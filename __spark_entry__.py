"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship detect pipeline at sf0.001.
queries()      -> every implemented operator from SURVEY.md §2 + the scale
                  extensions, as (spark, sf_dir) -> DataFrame callables.
oracle_sql()   -> DuckDB SQL mirrors (model_audit_spark/oracle.py), generated
                  from the same catalogs/constants as the Spark expressions.

Column names and float rounding are aligned pairwise between queries() and
oracle_sql() — the driver hashes values under sorted column names.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_audit_spark import oracle as ora
from model_audit_spark.catalogs import benchmark_df, probes_df
from model_audit_spark.functions.text import with_watermark_signals
from model_audit_spark.operators.audit import (
    audit_verdict,
    claimed_families,
    consistency_rate,
    fingerprint_diff_buckets,
    method_comparisons,
    probe_style_consistency,
    style_count_distribution,
)
from model_audit_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_band_pairs,
    minhash_signatures,
    simhash as dedup_simhash_df,
)
from model_audit_spark.operators.detect import (
    detect,
    detection_distribution,
    style_scores,
)
from model_audit_spark.operators.dli import (
    behavior_compare,
    behavior_features,
    bigram_distribution,
)
from model_audit_spark.operators.fingerprint import (
    cosine_compare,
    fingerprint_vectors,
)
from model_audit_spark.operators.reef import cka_long, embeddings_long
from model_audit_spark.operators.skew import rebalance_scan
from model_audit_spark.sources.readers import normalize_event_ts
from model_audit_spark.operators.similarity import (
    cosine_topk,
    embedding_cosine_pairs,
    lsh_topk,
)
from model_audit_spark.operators.text_analysis import doc_fingerprints, doc_stats
from model_audit_spark.functions.text import with_llmmap_features
from model_audit_spark.catalogs import (
    AUDIT_MODEL_NAMES,
    BOOL_FEATURES,
    FINGERPRINT_DIMS,
    MARKER_CATEGORIES,
)


def _sink_view(spark: SparkSession, prefix: str) -> str:
    """Fresh memory-sink view name, registered with persistence so
    release_all() drops the sink's heap-buffered rows between queries
    (clearCache alone cannot — measured at 100x events: a prior query's
    9.5M-row sink pinned the heap into GCLocker allocation failures)."""
    import uuid as _uuid

    from model_audit_spark import persistence

    return persistence.track_view(spark, prefix + _uuid.uuid4().hex[:8])


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet has shipped as TIMESTAMP(NANOS) — which the
        # vectorized reader rejects unless read as long — and as
        # TIMESTAMP(MICROS) across driver rounds; nanosAsLong is harmless
        # for micros files, and normalize_event_ts adapts to whichever
        # type the scan produces.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_event_ts(df)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # CPU-heavy expression corpora: a small single-row-group file scans
        # as one task; rebalance so scoring uses every core (no-op at scale).
        df = rebalance_scan(df)
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: style-detect every document at sf0.001 (SURVEY.md §3.1)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return detect(docs, spark, text_col="text", id_col="doc_id")


# ---------------------------------------------------------------------------
# Relational core (lineitem/orders/customer/events)
# ---------------------------------------------------------------------------

def _q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    cutoff = F.lit("1998-09-02 00:00:00").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q3(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q5(spark, sf):
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == n.n_nationkey),
        )
        .groupBy(n.n_name)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(F.col("n_name").alias("nation"), "revenue")
    )


def _q_topk_customers(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def _q_window_orders(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
            F.sum("o_totalprice")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("running_spend"),
        )
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rk",
            F.round("running_spend", 2).alias("running_spend"),
        )
    )


def _q_customers_no_orders(spark, sf):
    """Anti join (J7's batch cache-miss shape): customers with no orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def _q_urgent_customers(spark, sf):
    """Semi join: customers with at least one URGENT order, by segment."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def _q_rollup_revenue(spark, sf):
    """ROLLUP (year, priority): grouping-set subtotals + grand total."""
    o = _t(spark, sf, "orders")
    return (
        o.rollup(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.col("order_year").cast("bigint").alias("order_year"),
            "o_orderpriority",
            "revenue",
            "n_orders",
        )
    )


def _q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def _q_events_sessionize(spark, sf, gap_seconds: int = 1800):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("ts").over(w).alias("prev_ts"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
                > gap_seconds
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .withColumn("session_id", F.col("session_id").cast("bigint"))
    )


def _streaming_sessionize(spark, sf):
    """§2.10 stateful streaming: native session_window gap
    sessionization run as a STREAM (availableNow, memory sink) over the
    events fixture — per-key state is one open session, closed when
    the watermark passes its end. The oracle is the exact batch twin
    of session_window's overlap semantics: a new session starts iff
    the microsecond gap to the previous event is >= the gap
    (strictly-less merges), mirrored with unix_micros / epoch_us."""
    import tempfile

    from model_audit_spark.streaming import streaming_sessionize

    path = f"{sf}/events.parquet"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(path).schema
    stage = tempfile.mkdtemp(prefix="ma_sess_")
    os.symlink(path, os.path.join(stage, "part-0.parquet"))
    stream = normalize_event_ts(
        spark.readStream.schema(batch_schema).parquet(stage)
    )
    name = _sink_view(spark, "sess_")
    ckpt = tempfile.mkdtemp(prefix="ma_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # state keys are (user, open-session) — 150 users at sf0.01;
        # 8 state shards beat 32 (same rationale as streaming_drift)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            streaming_sessionize(stream, gap="30 minutes", within="1 hour")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming query did not terminate within 300s"
            )
        if q.exception() is not None:
            raise q.exception()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _embedding_coverage(spark, sf):
    """Release gate: per-source embedding coverage + orphan-vector
    count (embstats.embedding_coverage)."""
    from model_audit_spark.operators.embstats import embedding_coverage

    return embedding_coverage(
        _t(spark, sf, "documents"), _t(spark, sf, "embeddings")
    )


def _events_gapfill(spark, sf):
    """Dense hourly grid per event type with LOCF fill
    (rollup.gapfill_locf — the time_bucket_gapfill + locf pair)."""
    from model_audit_spark.operators.rollup import gapfill_locf

    return gapfill_locf(_t(spark, sf, "events"), grain_sec=3600)


def _lateness_profile(spark, sf):
    """Watermark-sizing audit: per event type the exact p50/p95/max
    out-of-orderness when the log replays in arrival order — what
    withWatermark(delay) must cover (rollup.lateness_profile)."""
    from model_audit_spark.operators.rollup import lateness_profile

    return lateness_profile(_t(spark, sf, "events"))


def _cluster_topics(spark, sf):
    """What characterizes each embedding cluster: top-5 topic words by
    integer-exact class lift over the Lloyd k-means assignment — the
    c-TF-IDF exploration step, composed on iterative algorithm #3
    (similarity.cluster_topics)."""
    from model_audit_spark.operators.similarity import (
        cluster_topics,
        lloyd_kmeans,
    )

    emb = _t(spark, sf, "embeddings")
    docs = _t(spark, sf, "documents")
    assign = lloyd_kmeans(emb, k=8, iterations=4).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return cluster_topics(assign, docs)


def _dedup_decisions(spark, sf):
    """Dedup audit trail: every removed doc with the member its
    cluster kept, both qualities, and the direct verified Jaccard
    when the pair was observed (NULL = transitive-only)
    (cluster.dedup_decisions)."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.cluster import dedup_decisions
    from model_audit_spark.operators.text_analysis import doc_stats

    docs = _t(spark, sf, "documents")
    q = doc_stats(docs).select("doc_id", "quality_score")
    verified = persistence.track(
        _dup_verified(docs).select("id_a", "id_b", "jaccard")
    )
    return dedup_decisions(q, verified)


def _vocab_drift(spark, sf):
    """Term-level df-share drift between corpus halves (doc_id parity
    as old/new snapshots) — the what-changed-in-this-crawl report at
    term granularity (text_analysis.vocab_drift)."""
    from model_audit_spark.operators.text_analysis import vocab_drift

    docs = _t(spark, sf, "documents")
    return vocab_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _kmeans_clusters(spark, sf):
    """Iterative algorithm #3 (after PageRank and BPE): 4 Lloyd
    k-means rounds entirely in integer arithmetic over micro-quantized
    embeddings — argmin distances and DIV centroid means are BIGINT-
    exact, so the full clustering hash-matches a 4-round unrolled
    MATERIALIZED-CTE SQL twin (similarity.lloyd_kmeans)."""
    from model_audit_spark.operators.similarity import (
        kmeans_cluster_profile,
    )

    emb = _t(spark, sf, "embeddings")
    return kmeans_cluster_profile(emb, k=8, iterations=4)


def _cluster_quality(spark, sf):
    """Davies-Bouldin-style quality report over the certified integer
    Lloyd clustering: per-cluster BIGINT scatter + worst-neighbor
    DB component in ppk (similarity.kmeans_cluster_quality; twin
    composes the same unrolled CTE chain as kmeans_clusters)."""
    from model_audit_spark.operators.similarity import (
        kmeans_cluster_quality,
    )

    emb = _t(spark, sf, "embeddings")
    return kmeans_cluster_quality(emb, k=8, iterations=4)


def _collocations(spark, sf):
    """Top-20 corpus collocations by integer-exact lift — the PMI
    association report without the ln(): c_xy*N*1e6 DIV (c_x*c_y)
    (text_analysis.collocations)."""
    from model_audit_spark.operators.text_analysis import collocations

    return collocations(_t(spark, sf, "documents"))


def _session_paths(spark, sf):
    """Top-20 behavioral paths: gap sessionization, each session's
    first 5 event types as an ordered path string, counted and ranked
    (threads.session_paths; order-deterministic via the unique
    (ts, event_id) concat key)."""
    from model_audit_spark.operators.threads import session_paths

    return session_paths(_t(spark, sf, "events"))


def _streaming_scd2(spark, sf):
    """§2.10 custom stateful operator #2: SCD2 run compaction as a
    stream (streaming.streaming_scd2, applyInPandasWithState, state =
    ONE open run per key). The reconstructed history — closed rows win
    over open snapshots, then the latest snapshot by n_events — must
    hash-match the SAME DuckDB twin as the batch events_scd2."""
    import tempfile

    from model_audit_spark.streaming import streaming_scd2

    path = f"{sf}/events.parquet"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(path).schema
    stage = tempfile.mkdtemp(prefix="ma_sscd2_")
    os.symlink(path, os.path.join(stage, "part-0.parquet"))
    stream = normalize_event_ts(
        spark.readStream.schema(batch_schema).parquet(stage)
    )
    name = _sink_view(spark, "sscd2_")
    ckpt = tempfile.mkdtemp(prefix="ma_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            streaming_scd2(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming query did not terminate within 300s"
            )
        if q.exception() is not None:
            raise q.exception()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    emitted = spark.table(name)
    w = Window.partitionBy("user_id", "version").orderBy(
        F.col("valid_to").isNull().cast("int"), F.desc("n_events")
    )
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _heavy_hitters(spark, sf):
    """Exact top-20 hot keys of events.user_id with integer-exact
    corpus share — the skew diagnosis behind salt-list choices
    (skew.heavy_hitters_exact; TakeOrdered, no global sort)."""
    from model_audit_spark.operators.skew import heavy_hitters_exact

    return heavy_hitters_exact(_t(spark, sf, "events"), "user_id", k=20)


def _channel_attribution(spark, sf):
    """U-shaped multi-touch attribution: every purchase distributes
    exactly 1,000,000 ppm of credit over the user's views in a 7-day
    lookback (40/20/40 first/middles/last, integer-deterministic
    remainders), rolled up per channel — the channel id is JSON-
    extracted from the touch's props (operators/attribution.py)."""
    from model_audit_spark.operators.attribution import (
        channel_attribution_report,
        utouch_attribution,
    )

    ev = _t(spark, sf, "events")
    ch = F.concat(
        F.lit("ch"),
        (
            F.get_json_object(F.col("props"), "$.k").cast("bigint") % 5
        ).cast("string"),
    )
    per_touch = utouch_attribution(ev, channel_col=ch)
    return channel_attribution_report(per_touch)


def _k_anonymity(spark, sf):
    """Release-readiness privacy check: k-anonymity histogram over the
    (source, lang) quasi-identifier pair (pii.k_anonymity_profile)."""
    from model_audit_spark.operators.pii import k_anonymity_profile

    docs = _t(spark, sf, "documents")
    return k_anonymity_profile(docs, ["source", "lang"], k=5)


def _ngram_novelty(spark, sf):
    """Marginal-contribution report: per source, the fraction of its
    docs' distinct 3-shingles whose global first occurrence (min
    doc_id) lands in that doc — what a curator reads before paying to
    keep a source (text_analysis.ngram_novelty)."""
    from model_audit_spark.operators.text_analysis import ngram_novelty

    docs = _t(spark, sf, "documents")
    nov = ngram_novelty(docs, "text", "doc_id", shingle_n=3)
    joined = nov.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_shingles").cast("bigint").alias("total_shingles"),
        F.sum("n_novel").cast("bigint").alias("novel_shingles"),
        (
            F.sum("n_novel").cast("bigint")
            / F.sum("n_shingles").cast("bigint")
        ).alias("novelty_rate"),
    )


def _streaming_attribution(spark, sf):
    """§2.10 stream-stream interval join: view→click attribution with
    BOTH sides live (streaming.streaming_interval_join — watermark +
    time-range bound give each side O(rate × horizon) state). The
    memory sink materializes the pair stream; the returned relation is
    the per-user attribution rollup (pair count, distinct matched
    views, exact integer lag sum). Oracle: the identical interval join
    as plain batch SQL."""
    import tempfile

    path = f"{sf}/events.parquet"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(path).schema
    stage = tempfile.mkdtemp(prefix="ma_attr_")
    os.symlink(path, os.path.join(stage, "part-0.parquet"))

    def _side(event_type, alias):
        return (
            normalize_event_ts(
                spark.readStream.schema(batch_schema).parquet(stage)
            )
            .filter(F.col("event_type") == event_type)
            .select("user_id", F.col("ts").alias(alias))
        )

    from model_audit_spark.streaming import streaming_interval_join

    name = _sink_view(spark, "attr_")
    ckpt = tempfile.mkdtemp(prefix="ma_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        out = streaming_interval_join(
            _side("view", "l_ts"),
            _side("click", "r_ts"),
            max_delay="10 minutes",
            watermark="1 hour",
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming query did not terminate within 300s"
            )
        if q.exception() is not None:
            raise q.exception()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    pairs = spark.table(name)
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("l_ts").alias("n_views_matched"),
        F.sum(
            F.unix_micros("r_ts") - F.unix_micros("l_ts")
        ).cast("bigint").alias("sum_lag_us"),
    )


def _domain_classify(spark, sf):
    """Dictionary-routed domain mix per source: token-hit argmax over
    the DOMAIN_TAXONOMY vocabularies, tie-broken lexicographically —
    a pure whole-stage-codegen projection, no join at any scale
    (text_analysis.classify_domains)."""
    from model_audit_spark.operators.text_analysis import classify_domains

    docs = _t(spark, sf, "documents")
    routed = classify_domains(docs)
    return routed.groupBy("source", "domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("best_hits").cast("bigint").alias("total_hits"),
        (F.sum("best_hits").cast("bigint") / F.count("*")).alias(
            "avg_hits"
        ),
    )


def _length_outliers(spark, sf):
    """Per-source robust length QA: exact median/MAD of n_chars from
    the value histogram (integer arithmetic end to end), docs beyond
    3×MAD tallied low/high (stats.robust_outlier_profile)."""
    from model_audit_spark.operators.stats import robust_outlier_profile

    docs = _t(spark, sf, "documents")
    return robust_outlier_profile(docs, "n_chars", "source", k_num=3)


def _epoch_shuffle(spark, sf):
    """Deterministic 3-epoch × 8-shard training-order shuffle audit:
    per (epoch, shard) the doc count, the first doc in shuffle order
    and a position-weighted checksum — the gate-sized fingerprint of
    the full materialized order (sampling.epoch_shuffle)."""
    from model_audit_spark.operators.sampling import epoch_shuffle

    docs = _t(spark, sf, "documents")
    order = epoch_shuffle(docs, "doc_id", n_epochs=3, n_shards=8)
    return order.groupBy("epoch", "shard").agg(
        F.count("*").alias("n_docs"),
        F.max(
            F.when(F.col("position") == 1, F.col("doc_id"))
        ).alias("first_doc"),
        F.sum(
            (F.col("position") * F.col("doc_id")) % F.lit(1000000007)
        ).cast("bigint").alias("checksum"),
    )


def _events_scd2(spark, sf):
    """CDC compaction: the events log as a type-2 slowly-changing
    dimension of each user's event_type — consecutive runs become
    validity intervals, the open run is current (operators/cdc.py;
    one key-hash shuffle, both windows share the sort)."""
    from model_audit_spark.operators.cdc import scd2_history

    return scd2_history(
        _t(spark, sf, "events"),
        key_col="user_id",
        attr_col="event_type",
        ts_col="ts",
        order_col="event_id",
    )


# ---------------------------------------------------------------------------
# Reference-surface queries (documents as corpus)
# ---------------------------------------------------------------------------

def _detect_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return detect(docs, spark, "text", "doc_id").select(
        "doc_id", "predicted_model", "confidence"
    )


def _style_scores_long(spark, sf):
    docs = _t(spark, sf, "documents")
    return style_scores(docs, spark, "text", "doc_id").select(
        "doc_id", "family", "score"
    )


def _style_fingerprint(spark, sf):
    """A4: mean per-family style score over the corpus (style.py:342-354)."""
    docs = _t(spark, sf, "documents")
    scored = style_scores(docs, spark, "text", "doc_id")
    return scored.groupBy("family").agg(
        F.round(F.avg("score"), 4).alias("style_score")
    )


def _detect_distribution(spark, sf):
    docs = _t(spark, sf, "documents")
    det = detect(docs, spark, "text", "doc_id")
    return detection_distribution(det).select(
        "predicted_model", "n_texts", "pct"
    )


def _llmmap_features_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    feats = with_llmmap_features(docs.select("doc_id", "text"), "text")
    return feats.select(
        "doc_id",
        "length_chars",
        "length_words",
        "length_sentences",
        F.round("avg_word_length", 6).alias("avg_word_length"),
        F.round("avg_sentence_length", 6).alias("avg_sentence_length"),
        F.round("unique_word_ratio", 6).alias("unique_word_ratio"),
        F.round("punctuation_ratio", 6).alias("punctuation_ratio"),
        F.round("newline_ratio", 6).alias("newline_ratio"),
        *BOOL_FEATURES,
        *[
            F.round(f"style_{c}", 6).alias(f"style_{c}")
            for c in MARKER_CATEGORIES
        ],
    )


def _llmmap_fingerprints(spark, sf):
    docs = _t(spark, sf, "documents")
    fp = fingerprint_vectors(docs, "source", "text")
    return fp.select(
        "source", *[F.round(d, 6).alias(d) for d in FINGERPRINT_DIMS]
    )


def _llmmap_compare_sources(spark, sf):
    docs = _t(spark, sf, "documents")
    fp = fingerprint_vectors(docs, "source", "text")
    cmp_ = cosine_compare(fp, "source")
    return cmp_.select(
        "model_a",
        "model_b",
        F.round("similarity", 6).alias("similarity"),
        "is_derived",
        "threshold",
        F.round("confidence", 6).alias("confidence"),
    )


def _dli_bigrams(spark, sf):
    docs = _t(spark, sf, "documents")
    return bigram_distribution(
        docs, "source", "text", order_col="doc_id"
    ).select("source", "ngram", "cnt", F.round("weight", 6).alias("weight"))


def _dli_features(spark, sf):
    docs = _t(spark, sf, "documents")
    f8 = behavior_features(docs, "source", "text")
    return f8.select(
        "source",
        *[
            F.round(c, 6).alias(c)
            for c in [
                "refusal_rate", "avg_length", "vocab_diversity",
                "markdown_rate", "list_rate", "code_block_rate",
                "hedging_rate", "certainty_rate",
            ]
        ],
    )


def _dli_compare_sources(spark, sf):
    docs = _t(spark, sf, "documents")
    cmp_ = behavior_compare(docs, "source", "text")
    return cmp_.select(
        "model_a",
        "model_b",
        F.round("js_divergence", 6).alias("js_divergence"),
        F.round("bigram_sim", 6).alias("bigram_sim"),
        F.round("feature_sim", 6).alias("feature_sim"),
        "similarity",
        "is_derived",
    )


def _probes_filtered(spark, sf):
    p = probes_df(spark).filter(
        F.col("category").isin(["reasoning", "safety_boundary"])
    )
    w = Window.orderBy("probe_seq")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select("probe_seq", "probe_id", "category")
    )


def _benchmark_detect(spark, sf):
    bench = benchmark_df(spark)
    det = detect(bench, spark, "text", "text_id")
    return det.join(bench.select("text_id", "label"), "text_id").select(
        "text_id",
        "predicted_model",
        "label",
        (F.col("predicted_model") == F.col("label")).alias("correct"),
    )


def _benchmark_accuracy(spark, sf):
    det = _benchmark_detect(spark, sf)
    return det.agg(
        F.count("*").alias("total"),
        F.sum(F.col("correct").cast("int")).cast("bigint").alias("correct"),
        F.round(
            F.sum(F.col("correct").cast("double")) / F.count("*"), 6
        ).alias("accuracy"),
    )


def _responses_fixture(spark, sf, teacher="src0", student="src1", n=20):
    """responses(model_id, probe_seq, probe_id, category, response) derived
    deterministically from documents — stands in for the live probe source
    exactly like the reference mocks _call_model_api_once."""
    docs = _t(spark, sf, "documents").filter(
        F.col("source").isin([teacher, student])
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select(
            F.col("source").alias("model_id"),
            F.row_number().over(w).alias("probe_seq"),
            F.col("text").alias("response"),
        )
        .filter(F.col("probe_seq") <= n)
        .withColumn(
            "probe_id", F.concat(F.lit("p"), F.col("probe_seq").cast("string"))
        )
        .withColumn("category", F.lit("synthetic"))
    )


def _probe_style_consistency(spark, sf):
    resp = _responses_fixture(spark, sf)
    return probe_style_consistency(resp, spark, "src0", "src1").select(
        "probe_seq", "probe_id", "category",
        "teacher_style", "student_style", "is_consistent",
    )


def _audit_consistency_rate(spark, sf):
    det = _probe_style_consistency(spark, sf)
    return consistency_rate(det).select(
        F.col("consistent").cast("bigint").alias("consistent"),
        "total",
        "pct",
    )


def _style_count_distribution(spark, sf):
    det = _probe_style_consistency(spark, sf)
    return style_count_distribution(det)


def _probe_category_counts(spark, sf):
    return probes_df(spark).groupBy("category").agg(
        F.count("*").alias("n_probes")
    )


def _benchmark_accuracy_by_class(spark, sf):
    det = _benchmark_detect(spark, sf)
    return det.groupBy("label").agg(
        F.count("*").alias("total"),
        F.sum(F.col("correct").cast("int")).cast("bigint").alias("correct"),
        F.round(F.avg(F.col("correct").cast("double")), 6).alias("accuracy"),
    )


def _claimed_families(spark, sf):
    models = spark.createDataFrame(
        [(m,) for m in AUDIT_MODEL_NAMES], ["model_id"]
    )
    return claimed_families(models, spark)


def _fingerprint_diff_buckets(spark, sf):
    docs = _t(spark, sf, "documents")
    fp = fingerprint_vectors(docs, "source", "text")
    return fingerprint_diff_buckets(fp, "src0", "src1")


def _verify_sources(spark, sf):
    """verify() relational form (engine.py:107-163): per source, style-score
    the deterministically-ordered concatenation of all its texts, take the
    best family + claimed-family substring match."""
    docs = _t(spark, sf, "documents")
    combined = docs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text")
    )
    det = detect(combined, spark, "text", "source").select(
        F.col("source").alias("model"),
        F.col("predicted_model").alias("best_match"),
        F.col("confidence").alias("best_score"),
    )
    claimed = claimed_families(
        det.select(F.col("model").alias("model_id")), spark
    ).select(
        F.col("model_id").alias("model"),
        F.coalesce("claimed_family", F.lit("unknown")).alias(
            "claimed_family"
        ),
    )
    return det.join(claimed, "model").select(
        "model",
        "claimed_family",
        "best_match",
        "best_score",
        (F.col("claimed_family") == F.col("best_match")).alias("verified"),
    )


def _media_relation(spark, sf):
    """Deterministic media relation synthesized from documents (no media
    fixture exists): binary content = utf-8 text, type cycled by doc_id."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        (F.length("text") % 64 + 1).cast("int").alias("width"),
        (F.length("text") % 32 + 1).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.length("text") * 10).cast("int").alias("duration_ms"),
        F.lit("synthetic").alias("codec"),
    )


def _media_profile(spark, sf):
    """Multimodal METADATA profile — the SQL-checkable half of the media
    pipeline: byte length, content md5, magic-bytes prefix, typed metadata.
    Pure projection over the binary column (no decode, full scan speed);
    the decode kernels are exercised by the rows-only media_decode."""
    media = _media_relation(spark, sf)
    return media.select(
        "media_id",
        "media_type",
        F.length("content").alias("byte_length"),
        F.md5("content").alias("content_md5"),
        F.substring(F.hex(F.col("content")), 1, 8).alias("magic_hex"),
        "width",
        "height",
        "duration_ms",
    )


def _media_decode(spark, sf):
    """Multimodal DECODE plumbing, hash-checked: the fake decoder chains
    sha256 over hexdigest STRINGS (multimodal._fake_pixels), which DuckDB's
    sha256(VARCHAR) reproduces block for block — so the Arrow mapInPandas
    kernel output has a full SQL twin (oracle.media_decode). Real decoders
    stay stubbed behind strict=True."""
    from model_audit_spark.operators.multimodal import decode_image_features

    decoded = decode_image_features(_media_relation(spark, sf))
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        F.round("mean_luma", 6).alias("mean_luma"),
        "content_digest",
    ).orderBy("media_id")


def _audit_verdict_sources(spark, sf):
    docs = _t(spark, sf, "documents")
    resp = docs.filter(F.col("source").isin(["src0", "src1"])).select(
        F.col("source").alias("model_id"), F.col("text").alias("response")
    )
    comps = method_comparisons(resp, spark, "model_id", "response")
    v = audit_verdict(comps)
    return v.select(
        F.round("avg_similarity", 6).alias("avg_similarity"),
        F.col("derived_votes").cast("bigint").alias("derived_votes"),
        "total_votes",
        "verdict",
        "confidence",
    )


def _memo_pairs(spark, sf):
    """(pair_id, sample, response, suffix, completion): each src0 document
    paired with the next one (the last with itself) — a deterministic
    stand-in for live (true-suffix, model-completion) probe output."""
    docs = _t(spark, sf, "documents").filter(F.col("source") == "src0")
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("sample"),
        F.coalesce(F.lead("text").over(w), F.col("text")).alias("response"),
    )
    s_mid = (F.length("sample") / 2).cast("int")
    r_mid = (F.length("response") / 2).cast("int")
    return paired.select(
        "pair_id",
        "sample",
        "response",
        F.col("sample")
        .substr(s_mid + 1, F.length("sample") - s_mid)
        .alias("suffix"),
        F.col("response")
        .substr(r_mid + 1, F.length("response") - r_mid)
        .alias("completion"),
    )


def _memorization_verbatim(spark, sf):
    from model_audit_spark.operators.memorization import (
        verbatim_phrase_fraction,
    )

    return verbatim_phrase_fraction(
        _memo_pairs(spark, sf), "sample", "response", "pair_id"
    ).select(
        "pair_id",
        F.col("total_phrases").cast("bigint").alias("total_phrases"),
        F.col("matched_phrases").cast("bigint").alias("matched_phrases"),
        "score",
    )


def _memorization_levenshtein(spark, sf):
    from model_audit_spark.operators.memorization import (
        levenshtein_similarity,
    )

    pairs = _memo_pairs(spark, sf)
    return pairs.select(
        "pair_id",
        F.round(
            levenshtein_similarity("suffix", "completion"), 6
        ).alias("lev_similarity"),
    )


def _memorization_seqmatch(spark, sf):
    from model_audit_spark.operators.memorization import (
        sequence_match_scores,
    )

    return sequence_match_scores(
        _memo_pairs(spark, sf), "suffix", "completion", "pair_id"
    )


def _memorization_average(spark, sf):
    """A10: corpus-level mean memorization score (mcp_server.py:405-407)."""
    scores = _memorization_verbatim(spark, sf)
    return scores.agg(
        F.count("*").alias("n_samples"),
        F.round(F.avg("score"), 6).alias("avg_score"),
    )


def _llmmap_fingerprint_hashes(spark, sf):
    from model_audit_spark.operators.fingerprint import fingerprint_hash

    docs = _t(spark, sf, "documents")
    fp = fingerprint_vectors(docs, "source", "text")
    return fingerprint_hash(fp, "source").select("source", "fp_hash")


def _reef_layer_cka(spark, sf):
    """Per-layer CKA (V6) via the cogrouped pandas kernel, hash-checked
    against oracle.reef_layer_cka — the same centered-Gram HSIC SQL as
    cka_labels, grouped by layer (numpy float64 and DuckDB double agree
    to well past the 6dp rounding)."""
    from model_audit_spark.operators.reef import layer_cka

    emb = _t(spark, sf, "embeddings")
    w = Window.partitionBy("label", F.col("vec_id") % 4).orderBy("vec_id")
    hidden = emb.filter(F.col("label").isin([0, 1])).select(
        F.concat(F.lit("m"), F.col("label").cast("string")).alias("model_id"),
        (F.col("vec_id") % 4).cast("int").alias("layer"),
        (F.row_number().over(w) - 1).alias("sample"),
        F.col("embedding").alias("vec"),
    ).filter(F.col("sample") < 8)
    return layer_cka(hidden, "m0", "m1").select(
        "layer", F.round("cka", 6).alias("cka")
    ).orderBy("layer")


# ---------------------------------------------------------------------------
# Text analysis / watermark / dedup / similarity / CKA
# ---------------------------------------------------------------------------

def _text_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    st = doc_stats(docs, "text", "doc_id")
    return st.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
        "lang_pred",
    )


def _corpus_stats(spark, sf):
    """Corpus-level profile: one pass, map-side-combinable aggregates.
    (approx_count_distinct is the 100 TB variant of the distinct counts;
    exact kept here so the DuckDB oracle can hash-match.)"""
    docs = _t(spark, sf, "documents")
    from model_audit_spark.functions.text import word_tokens

    staged = docs.select(
        "source", F.col("text"), F.size(word_tokens("text")).alias("n_toks")
    )
    return staged.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_toks"), 6).alias("avg_tokens"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )


def _lang_distribution(spark, sf):
    docs = _t(spark, sf, "documents")
    from model_audit_spark.functions.text import detect_lang

    return (
        docs.groupBy(detect_lang("text").alias("lang_pred"))
        .agg(F.count("*").alias("n_docs"))
    )


def _watermark_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    # fused single-tokenization path (r9): values identical to the
    # watermark_columns() dict, but each marker tree computed once
    out = with_watermark_signals(docs.select("doc_id", "text"), "text")
    return out.select(
        "doc_id",
        F.round("wm_word_len_variance", 6).alias("wm_word_len_variance"),
        F.round("wm_bigram_unique_ratio", 6).alias(
            "wm_bigram_unique_ratio"
        ),
        "wm_zero_width_count",
        "wm_double_space_count",
        "wm_score",
    )


def _doc_fingerprints(spark, sf):
    docs = _t(spark, sf, "documents")
    return doc_fingerprints(docs, "text", "doc_id")


def _cache_keys(spark, sf):
    from model_audit_spark.sources.cache import cache_key

    docs = _t(spark, sf, "documents")
    models = docs.select(F.col("source").alias("model_id")).distinct()
    return models.select(
        "model_id",
        cache_key("model_id", F.lit("llmmap"), F.lit("openai")).alias(
            "cache_key"
        ),
    )


def _c4_clean(spark, sf):
    from model_audit_spark.operators.c4 import c4_clean_stats

    docs = _t(spark, sf, "documents")
    return c4_clean_stats(docs, "text", "doc_id")


def _paragraph_dedup(spark, sf):
    from model_audit_spark.operators.dedup import paragraph_dedup_stats

    docs = _t(spark, sf, "documents")
    return paragraph_dedup_stats(docs, "text", "doc_id")


def _char_lm_scores(spark, sf):
    from model_audit_spark.operators.lm import char_lm_scores

    docs = _t(spark, sf, "documents")
    return char_lm_scores(docs, "text", "doc_id")


def _knn_graph(spark, sf):
    """The session-memoized k=5 kNN edge relation of the embeddings
    table — ONE multi-band LSH + cosine-verify + top-k evaluation per
    (input files, params) shared by every kNN-graph consumer
    (knn_triangles, link_prediction_aa, contrastive_triplets), the same
    sharing discipline as _dup_shingles / _dup_communities_rel. The
    memo re-checks storage level, so harnesses that clearCache()/
    release_all() between queries (bench.py, check_oracle.py) rebuild
    transparently and isolated timings stay isolated. planes_per_band
    pinned at the gate literal (library default now derives from corpus
    size; the explicit literal keeps evidence hashes stable)."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.similarity import knn_graph

    emb = _t(spark, sf, "embeddings")
    key = (
        "knn_graph", tuple(sorted(emb.inputFiles())), 5, 4, 6, 64,
    )
    return persistence.memo(
        key,
        lambda: knn_graph(emb, k=5, n_bands=4, planes_per_band=6, dim=64),
    )


def _knn_graph_windowed(spark, sf):
    """knn_graph's SortingLSH bounded mode (r11): bucket_window=4 with
    coarse 4-plane buckets, so gate buckets genuinely exceed the window
    and the frame-truncation semantics — in-bucket ordering by the
    extra seeded projection, pairing only within 4 frame successors,
    symmetric emission — are what the oracle hash certifies (a window
    wider than every bucket would collapse to the plain knn_graph
    twin)."""
    from model_audit_spark.operators.similarity import knn_graph

    emb = _t(spark, sf, "embeddings")
    return knn_graph(
        emb, k=5, n_bands=4, planes_per_band=4, dim=64, bucket_window=4
    )



def _ivf_index(spark, sf):
    """Session-memoized gate-parameter IVF index (centroids +
    assignment) of the embeddings table, shared by ann_ivf_topk and
    ann_ivf_sq8 through their injection parameters — the same sharing
    ann_recall_report/ann_param_sweep use internally since r7;
    injected-vs-internal equality is test-pinned in
    test_ann_index_injection_equals_internal_build. Driver-side
    centroids ride persistence.memo_obj, the assignment relation
    persistence.memo; harnesses that release_all() between queries
    rebuild transparently, so isolated timings stay isolated. The
    helpers are split per index family so a query builds only the
    artifacts it probes."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids_seeded,
    )

    emb = _t(spark, sf, "embeddings")
    files = tuple(sorted(emb.inputFiles()))
    centroids = persistence.memo_obj(
        ("ann_centroids", files, 8),
        lambda: ivf_centroids_seeded(emb, n_clusters=8),
    )
    assigned = persistence.memo(
        ("ann_assigned", files, 8), lambda: ivf_assign(emb, centroids)
    )
    return emb, centroids, assigned


def _sq8_index(spark, sf):
    """Session-memoized SQ8 quantizer (per-dim params + byte codes) —
    shared by ann_sq8_topk, ann_sq8_rerank and ann_ivf_sq8 (see
    _ivf_index for the sharing contract)."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.similarity import (
        sq8_encode,
        sq8_params,
    )

    emb = _t(spark, sf, "embeddings")
    files = tuple(sorted(emb.inputFiles()))
    params = persistence.memo(
        ("ann_sq8_params", files), lambda: sq8_params(emb)
    )
    enc = persistence.memo(
        ("ann_sq8_enc", files), lambda: sq8_encode(emb, params)
    )
    return emb, params, enc


def _pq_index(spark, sf):
    """Session-memoized PQ index (codebooks + codes) — shared by
    ann_pq_topk and ann_pq_rerank (see _ivf_index for the sharing
    contract)."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.similarity import (
        pq_codebooks_seeded,
        pq_encode,
    )

    emb = _t(spark, sf, "embeddings")
    files = tuple(sorted(emb.inputFiles()))
    books = persistence.memo_obj(
        ("ann_codebooks", files, 8, 16, 64),
        lambda: pq_codebooks_seeded(emb, m=8, k=16, dim=64),
    )
    codes = persistence.memo(
        ("ann_pq_codes", files, 8, 16), lambda: pq_encode(emb, books)
    )
    return emb, books, codes


def _dup_shingles(docs):
    """The session-memoized shingle relation of the documents table —
    ONE cached tokenize+shingle pass per (input files, n) shared by
    every shingle consumer (minhash chain, exact/prefix Jaccard,
    containment; r6 widened the sharing from the minhash chain to the
    prefix-filter family via the operators' `shingles=` injection).
    Contract: `docs` must be the unfiltered documents table — the memo
    key is its file set."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.dedup import shingles_df

    key = ("dup_shingles", tuple(sorted(docs.inputFiles())), 3)
    return persistence.memo(
        key, lambda: shingles_df(docs, "text", "doc_id")
    )


def _dup_verified(docs, min_jaccard: float = 0.5):
    """Shared sign->band->verify chain for every dup-graph query: ONE
    persisted shingle relation feeds both the minhash aggregate and the
    exact Jaccard verify, so the corpus is tokenized/shingled once per
    query instead of twice (dedup.minhash_signatures `shingles=`).

    Cache lifecycle (r5): the shingle relation is MEMOIZED per
    (input files, shingle_n) via persistence.memo, so a session running
    many dup-graph queries over the same documents table holds ONE
    cached shingle relation instead of one per query; the memo
    re-checks `is_cached`, so a harness that clearCache()s between
    queries (bench.py, scripts/check_oracle.py) transparently rebuilds.
    Explicit release: persistence.release_all(). Contract: `docs` must
    be the unfiltered documents table — the memo key is its file set,
    so two different projections of the same files would share.

    r12: the VERIFIED pair relation itself is memoized too (keyed
    (files, min_jaccard), released by the same release_all hook) — a
    query whose plan references the dup graph twice in one action
    (community_modularity joins the edge relation AND the
    label-propagation labels built from it) previously ran the
    sign->band->verify chain twice per evaluation, and a session batch
    running several dup-graph queries rebuilt it per query."""
    from model_audit_spark import persistence

    key = (
        "dup_verified", tuple(sorted(docs.inputFiles())), min_jaccard
    )

    def build():
        shing = _dup_shingles(docs)
        sigs = minhash_signatures(docs, "text", "doc_id", shingles=shing)
        pairs = minhash_band_pairs(sigs, "doc_id")
        return jaccard_verify(
            docs, pairs, "text", "doc_id",
            min_jaccard=min_jaccard, shingles=shing,
        )

    return persistence.memo(key, build)


def _dup_communities_rel(docs):
    """Memoized label-propagation communities of the symmetric
    near-dup graph — the shared upstream of dedup_communities,
    community_modularity and community_source_nmi (r6: the three
    queries each re-ran the same 4-round chain; persistence.memo
    shares ONE evaluation per session batch, released by
    release_all so isolated timings stay isolated)."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.cluster import label_propagation

    def build():
        verified = _dup_verified(docs).select("id_a", "id_b")
        edges = verified.unionByName(
            verified.select(
                F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
            )
        )
        nodes = docs.select(F.col("doc_id"))
        return label_propagation(
            nodes, edges, rounds=4, id_col="doc_id",
            src_col="id_a", dst_col="id_b",
        )

    key = ("dup_communities", tuple(sorted(docs.inputFiles())), 4)
    return persistence.memo(key, build)


def _dedup_communities(spark, sf):
    """Label-propagation communities over the symmetric near-dup graph
    (4 synchronous rounds, least-label ties) — the modal-support
    alternative to connected components: thin spurious bridges don't
    fuse dense clusters. Iterative, hash-certified against an unrolled
    SQL twin (cluster.label_propagation); the communities relation is
    session-memoized and shared with the modularity and NMI queries."""
    docs = _t(spark, sf, "documents")
    return _dup_communities_rel(docs)


def _dedup_kcore(spark, sf):
    """k-core (k=2) of the symmetric near-dup graph via 8 synchronous
    peel rounds — the dense template-farm backbone that pairwise
    near-dup reports understate; core_deg ranks the densest clusters.
    Iterative, hash-certified against an unrolled SQL twin
    (cluster.k_core)."""
    from model_audit_spark.operators.cluster import k_core

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    edges = verified.unionByName(
        verified.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    nodes = docs.select(F.col("doc_id"))
    return k_core(
        nodes, edges, k=2, rounds=8, id_col="doc_id",
        src_col="id_a", dst_col="id_b",
    )


def _pagerank_dupgraph(spark, sf):
    """Integer-arithmetic PageRank over the symmetric minhash near-dup
    graph — duplication hubs get high rank. Iterative algorithm with a
    full SQL twin (rounds unrolled as CTEs, all mass moves are BIGINT
    floor division)."""
    from model_audit_spark.operators.cluster import pagerank

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    # the memoized verified relation is already persisted (r12)
    edges = verified.unionByName(
        verified.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    return pagerank(
        nodes, edges, iterations=3, id_col="node",
        src_col="id_a", dst_col="id_b",
    )


def _q_events_funnel(spark, sf):
    from model_audit_spark.operators.asof import funnel_counts

    ev = _t(spark, sf, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


def _source_overlap(spark, sf):
    from model_audit_spark.operators.cluster import source_overlap

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    return source_overlap(docs, verified)


def _span_dedup(spark, sf):
    from model_audit_spark.operators.dedup import span_dedup_stats

    docs = _t(spark, sf, "documents")
    return span_dedup_stats(docs, "text", "doc_id", span_tokens=20)


def _quality_calibrated(spark, sf):
    from model_audit_spark.operators.text_analysis import quality_calibrated

    docs = _t(spark, sf, "documents")
    return quality_calibrated(docs, keep_frac=0.5)


def _embedding_contamination(spark, sf):
    """Semantic decontamination: train split (vec_id % 5 != 0) vectors
    whose cosine to any eval vector (vec_id % 5 == 0) >= 0.4 — the same
    driver split convention as contamination_check."""
    from model_audit_spark.operators.decontam import embedding_contamination

    emb = _t(spark, sf, "embeddings")
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    ev = emb.filter(F.col("vec_id") % 5 == 0)
    return embedding_contamination(tr, ev, threshold=0.4, n_planes=8, dim=64)


def _embedding_contamination_windowed(spark, sf):
    """embedding_contamination's bounded-candidate SortingLSH mode (r13,
    the carried r11 scale item): bucket_window=8 with coarse 4-plane
    buckets, so gate buckets genuinely exceed the window at every
    driver SF and the frame-truncation semantics — interleaved
    train+eval ordering by the extra seeded quantized projection,
    pairing each train row only with the eval rows inside its ±8-row
    frame — are what the oracle hash certifies (a window wider than
    every bucket would collapse to the unbounded twin; with 4 planes
    the sf0.1 gate output is 10 rows vs 53 unbounded)."""
    from model_audit_spark.operators.decontam import embedding_contamination

    emb = _t(spark, sf, "embeddings")
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    ev = emb.filter(F.col("vec_id") % 5 == 0)
    return embedding_contamination(
        tr, ev, threshold=0.4, n_planes=4, dim=64, bucket_window=8
    )


def _bm25_search(spark, sf):
    from model_audit_spark.operators.search import bm25_search

    docs = _t(spark, sf, "documents")
    return bm25_search(docs, "spark join filter", k=20)


def _hybrid_search(spark, sf):
    """Lexical+semantic hybrid retrieval: BM25 top-50 and exact-cosine
    top-50 fused by reciprocal-rank fusion (rrf_k=60). Twin composes
    the certified bm25_search and similarity_topk CTEs."""
    from model_audit_spark.operators.search import hybrid_rrf_search

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    return hybrid_rrf_search(
        docs, emb, "spark join filter", query_vec_id=0, n_cand=50, k=20
    )


def _events_pivot(spark, sf):
    """Wide per-user activity profile via pivot with an EXPLICIT value
    list (no values-discovery scan, deterministic column order) — the
    SQL twin is conditional aggregation. One hash-aggregate; the pivot
    values are schema, not data."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}")
                for c in ("view", "click", "purchase", "error")
            ],
        )
    )


def _knn_triangles(spark, sf):
    """Per-node triangle counts over the kNN similarity graph — the
    local-density QA signal for similarity clusters (cluster.py)."""
    from model_audit_spark.operators.cluster import triangle_counts

    return triangle_counts(_knn_graph(spark, sf), "src", "dst")


def _phrase_search(spark, sf):
    """Exact token-sequence match — positional search BM25 cannot
    express (operators/search.py phrase_search)."""
    from model_audit_spark.operators.search import phrase_search

    docs = _t(spark, sf, "documents")
    return phrase_search(docs, "table hash")


def _conversation_transcripts(spark, sf):
    """Assemble each user's event log into one ordered transcript
    (operators/threads.py) — turn text rendered printf-style so both
    engines produce identical strings."""
    from model_audit_spark.operators.threads import assemble_threads

    e = _t(spark, sf, "events")
    # inputs coalesced BEFORE printf: Spark renders a NULL arg as the
    # string 'null' while DuckDB printf yields NULL (string_agg then
    # skips the turn) — same NULL-symmetry rule as bm25's avgdl
    turn = F.format_string(
        "%s:%.2f",
        F.coalesce(F.col("event_type"), F.lit("")),
        F.coalesce(F.col("value"), F.lit(0.0)),
    )
    return assemble_threads(e, turn, max_turns=200)


def _q17_small_quantity(spark, sf):
    """TPC-H Q17 shape — correlated scalar subquery decorrelated into a
    per-key aggregate join: revenue from lineitems whose quantity is
    under 20% of their part's average, per Brand#2 part. The
    brand-filtered lineitem relation is persisted: it feeds BOTH the
    threshold aggregate and the probe join (without it, two full
    lineitem scans). Sums are exact (integral quantities, 2dp prices)."""
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .drop("p_partkey")
        .persist()
    )
    thresh = brand_li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("q_thresh")
    )
    return (
        brand_li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("q_thresh"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.count("*").alias("n_small"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
    )


def _zorder_events(spark, sf):
    """Morton z-value of (user_id, epoch-minute) per event — the layout
    key write_zordered sorts by so filters on EITHER dimension prune
    parquet files (sources/layout.py)."""
    from model_audit_spark.sources.layout import zvalue

    e = _t(spark, sf, "events")
    minute = F.expr("CAST(unix_timestamp(ts) AS BIGINT) DIV 60")
    return e.select(
        "event_id",
        zvalue([F.col("user_id"), minute], bits=16).alias("zval"),
    )


def _dedup_incremental(spark, sf):
    """Continuous-ingestion dedup: docs with doc_id % 5 == 0 arrive as a
    new batch and probe the LSH index built from the other 4/5."""
    from model_audit_spark.operators.dedup import (
        incremental_dedup_pairs,
        lsh_band_rows,
        minhash_signatures,
    )

    docs = _t(spark, sf, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index_bands = lsh_band_rows(minhash_signatures(idx_docs))
    return incremental_dedup_pairs(
        batch, index_bands, idx_docs, min_jaccard=0.5
    )


def _tfidf_keywords(spark, sf):
    from model_audit_spark.operators.search import tfidf_keywords

    docs = _t(spark, sf, "documents")
    return tfidf_keywords(docs, k=3, min_df=2, max_df_frac=0.8)


def _contrastive_triplets(spark, sf):
    from model_audit_spark.operators.sampling import contrastive_triplets

    emb = _t(spark, sf, "embeddings")
    pos = _knn_graph(spark, sf)
    return contrastive_triplets(emb, pos, n_neg=2, n_buckets=16)


def _budget_select(spark, sf):
    from model_audit_spark.operators.sampling import budget_select

    docs = _t(spark, sf, "documents")
    return budget_select(docs, budget_tokens=15000)


def _q_events_rolling(spark, sf):
    """Rolling 1-hour per-user features: RANGE interval frame anchored on
    epoch micros; DECIMAL sum (order-independent) -> double at the end."""
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1000000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w)
            .cast("double"),
            6,
        ).alias("value_1h"),
    )


def _events_rollup_cascade(spark, sf):
    from model_audit_spark.operators.rollup import rollup_cascade

    ev = _t(spark, sf, "events")
    return rollup_cascade(ev, "ts", ["event_type"], "value")


def _doc_chunks(spark, sf):
    from model_audit_spark.operators.text_analysis import chunk_text

    docs = _t(spark, sf, "documents")
    return chunk_text(docs, "text", "doc_id", chunk_chars=500, overlap=50)


def _dsir_weights(spark, sf):
    """DSIR hashed-bigram importance weights toward the src0 domain
    (operators/dsir.py; Xie et al. 2023). Nanonat-quantized log-ratios,
    exact BIGINT sums — hash-stable cross-engine."""
    from pyspark.sql import functions as F

    from model_audit_spark.operators.dsir import dsir_weights

    docs = _t(spark, sf, "documents")
    return dsir_weights(docs, F.col("source") == "src0")


def _lang_id_ext(spark, sf):
    from model_audit_spark.functions.text import with_lang_profile

    docs = _t(spark, sf, "documents")
    return with_lang_profile(
        docs.select("doc_id", "text"), "text", "lang_ext"
    ).drop("text")


def _dedup_exact(spark, sf):
    docs = _t(spark, sf, "documents")
    return exact_dedup(docs, "text", "doc_id")


def _dedup_minhash_signatures(spark, sf):
    docs = _t(spark, sf, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id")
    return sigs.select(
        "doc_id",
        F.md5(F.concat_ws("|", *[f"mh_{i}" for i in range(16)])).alias(
            "signature"
        ),
    )


def _dedup_minhash_pairs(spark, sf):
    docs = _t(spark, sf, "documents")
    return _dup_verified(docs)


def _semantic_dedup(spark, sf):
    """SemDeDup-style embedding dedup: seeded-quantizer clusters,
    within-cluster cosine, min-id retention (similarity.semantic_dedup).
    threshold=0.4 matches the data-calibrated embedding_pairs_exact."""
    from model_audit_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf, "embeddings"), threshold=0.4)


def _pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing: doc → fixed-length training
    context assignment, sharded by hash bucket (operators/packing.py).
    context_len=256 so sf0.01 docs actually span chunk boundaries."""
    from model_audit_spark.operators.packing import pack_chunks

    return pack_chunks(_t(spark, sf, "documents"), context_len=256)


def _pii_scan(spark, sf):
    """Regex-tier PII counts + redacted text per document
    (operators/pii.py)."""
    from model_audit_spark.operators.pii import pii_scan

    return pii_scan(_t(spark, sf, "documents"))


def _quality_repetition(spark, sf):
    """Gopher-style repetition/boilerplate quality signals per document
    with a composite pass verdict (operators/quality.py)."""
    from model_audit_spark.operators.quality import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


def _dedup_clusters(spark, sf):
    """Near-dup pairs → connected components → per-doc cluster + keep
    verdict (min-id representative). Pairs come from the same
    minhash→LSH→Jaccard-verify chain as dedup_minhash_pairs."""
    from model_audit_spark.operators.cluster import cluster_documents

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    return cluster_documents(docs, verified, "doc_id")


def _effective_corpus_size(spark, sf):
    """Dedup-aware per-source size report: 1/cluster_size-weighted
    token mass in exact ppm BIGINTs over the verified near-dup
    clusters (cluster.effective_corpus_size)."""
    from model_audit_spark.operators.cluster import (
        cluster_documents,
        effective_corpus_size,
    )

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    clusters = cluster_documents(docs, verified, "doc_id")
    return effective_corpus_size(docs, clusters)


def _cluster_retention(spark, sf):
    """Quality-aware dedup retention: keep the best-quality member of
    each near-dup cluster (cluster.cluster_retention_by_quality) —
    min-id retention's production-policy sibling."""
    from model_audit_spark.operators.cluster import (
        cluster_retention_by_quality,
    )
    from model_audit_spark.operators.text_analysis import doc_stats

    docs = _t(spark, sf, "documents")
    q = doc_stats(docs).select("doc_id", "quality_score")
    verified = _dup_verified(docs).select("id_a", "id_b")
    return cluster_retention_by_quality(q, verified)


def _dedup_ngram_jaccard(spark, sf):
    from model_audit_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", min_jaccard=0.5,
        shingles=_dup_shingles(docs),
    )


def _dedup_recall_report(spark, sf):
    """Candidate recall of every near-dup generator (minhash-LSH bands,
    simhash banded-hamming, PPJoin prefix) against the exact all-pairs
    Jaccard >= 0.5 truth — the dedup counterpart of ann_recall_report:
    candidate QUALITY as an oracle-checked output, with the prefix row
    re-certifying PPJoin losslessness (recall exactly 1.0) every round
    (dedup.dedup_recall_report)."""
    from model_audit_spark.operators.dedup import dedup_recall_report

    docs = _t(spark, sf, "documents")
    return dedup_recall_report(docs, "text", "doc_id", min_jaccard=0.5)


def _winnow_fingerprints(spark, sf):
    """Per-doc winnowing (MOSS) fingerprint summary: count + selected
    density of window-min token-gram hashes — the position-aware
    fingerprint family between stride-1 span hashing and bottom-k
    sketches, computed as ONE zero-shuffle array projection
    (text_analysis.winnow_fingerprints)."""
    from model_audit_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf, "documents")
    return winnow_fingerprints(docs, "text", "doc_id")


def _winnow_pairs(spark, sf):
    """MOSS-style containment candidates: doc pairs sharing >= 2
    distinct winnowing fingerprints, boilerplate minima dropped by the
    max_df cap BEFORE bucket expansion (text_analysis.winnow_pairs)."""
    from model_audit_spark.operators.text_analysis import winnow_pairs

    docs = _t(spark, sf, "documents")
    return winnow_pairs(docs, "text", "doc_id", min_shared=2, max_df=50)


def _winnow_span_report(spark, sf):
    """MOSS match localization: winnow_pairs plus the positional extent
    of the shared fingerprints inside each document — boilerplate-at-
    the-head vs wholesale duplication at a glance
    (text_analysis.winnow_span_report)."""
    from model_audit_spark.operators.text_analysis import (
        winnow_span_report,
    )

    docs = _t(spark, sf, "documents")
    return winnow_span_report(
        docs, "text", "doc_id", min_shared=2, max_df=50
    )


def _contamination_check(spark, sf):
    """Decontamination report: training docs (doc_id % 5 != 0) sharing any
    word 5-gram with the eval split (doc_id % 5 == 0)."""
    from model_audit_spark.operators.decontam import contamination

    docs = _t(spark, sf, "documents")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    return contamination(tr, ev, "text", "doc_id", shingle_n=5)


def _corpus_sample(spark, sf):
    """Deterministic stratified hash sample of documents by language."""
    from model_audit_spark.operators.sampling import (
        sample_bucket,
        stratified_sample,
    )

    docs = _t(spark, sf, "documents")
    sampled = stratified_sample(
        docs,
        {"en": 0.5, "fr": 0.3, "zh": 0.2},
        stratum_col="lang",
        id_col="doc_id",
        salt="s1",
        default_rate=0.1,
    )
    return sampled.select(
        "doc_id", "lang", "source", sample_bucket("doc_id", "s1")
    )


def _length_percentiles(spark, sf):
    """Per-source char/token length quantiles (exact form, oracle-checked;
    percentile_approx is the documented 100 TB variant)."""
    from model_audit_spark.operators.stats import column_percentiles
    from model_audit_spark.operators.text_analysis import token_count_ws

    docs = _t(spark, sf, "documents")
    return column_percentiles(
        docs,
        {"chars": F.col("n_chars"), "tokens": token_count_ws("text")},
        [0.25, 0.5, 0.75, 0.95],
        group_cols=["source"],
    )


def _dedup_simhash(spark, sf):
    docs = _t(spark, sf, "documents")
    return dedup_simhash_df(docs, "text", "doc_id")


def _dedup_simhash_pairs(spark, sf):
    from model_audit_spark.operators.dedup import simhash_near_dup_pairs

    docs = _t(spark, sf, "documents")
    return simhash_near_dup_pairs(docs, "text", "doc_id")


def _similarity_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return cosine_topk(emb, query_vec_id=0, k=10)


def _cka_labels(spark, sf):
    emb = _t(spark, sf, "embeddings")
    x = embeddings_long(emb, 0, 40)
    y = embeddings_long(emb, 1, 40)
    return cka_long(x, y).select(F.round("cka", 6).alias("cka"))


# Rows-only (no SQL oracle): LSH/IVF approximate search + embedding near-dups
def _ann_lsh_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    # dim passed explicitly (schema-known) — no driver-side .first() during
    # plan construction
    return lsh_topk(emb, query_vec_id=0, k=10, n_planes=6, dim=64)


def _ann_pq_topk(spark, sf):
    """Product-quantization ANN: 8-byte codes + asymmetric-distance
    top-k (similarity.pq_encode / pq_topk, seeded codebooks)."""
    from model_audit_spark.operators.similarity import pq_topk

    emb, books, codes = _pq_index(spark, sf)
    return pq_topk(emb, query_vec_id=0, codebooks=books, k=10, codes=codes)


def _ann_pq_rerank(spark, sf):
    """Two-stage retrieval: PQ ADC shortlist → exact cosine re-rank
    (similarity.pq_rerank_topk)."""
    from model_audit_spark.operators.similarity import pq_rerank_topk

    emb, books, codes = _pq_index(spark, sf)
    return pq_rerank_topk(
        emb, query_vec_id=0, codebooks=books, k=10, shortlist=50,
        codes=codes,
    )


def _corpus_drift(spark, sf):
    """PSI distribution shift of src0 vs the rest over fixed length and
    quality buckets (operators/drift.py)."""
    from model_audit_spark.operators.drift import psi_drift
    from model_audit_spark.operators.text_analysis import with_doc_stats

    # staged fused quality column (with_doc_stats): the dict-expression
    # form embedded the quality tree once per feature struct and
    # psi_drift's explode multiplied it (12 tokenizer subtrees measured
    # in the optimized plan)
    docs = with_doc_stats(
        _t(spark, sf, "documents").select("doc_id", "text", "source"),
        "text",
        names=["quality_score"],
    )
    len_bucket = F.least(
        F.floor(F.length(F.coalesce(F.col("text"), F.lit(""))) / 200),
        F.lit(19),
    )
    q_bucket = F.floor(F.col("quality_score") * 10)
    return psi_drift(
        docs,
        F.col("source") == "src0",
        {"len": len_bucket, "quality": q_bucket},
    )


def _dedup_jaccard_prefix(spark, sf):
    """Prefix-filtered exact Jaccard join: the oracle twin is the FULL
    all-pairs SQL, so a hash match certifies the candidate pruning
    loses nothing (dedup.ngram_jaccard_prefix_pairs)."""
    from model_audit_spark.operators.dedup import ngram_jaccard_prefix_pairs

    docs = _t(spark, sf, "documents")
    return ngram_jaccard_prefix_pairs(
        docs, min_jaccard=0.5, shingles=_dup_shingles(docs)
    )


def _length_bucketed_batches(spark, sf):
    """Padding-efficient trainer batches: shard-hash then length-sorted
    batch_size groups (operators/packing.py)."""
    from model_audit_spark.operators.packing import length_bucketed_batches

    docs = _t(spark, sf, "documents")
    return length_bucketed_batches(docs, batch_size=16)


def _q4_order_priority(spark, sf):
    """TPC-H Q4 shape: orders with ≥1 late lineitem (left-semi against
    the filtered lineitem relation), counted per priority."""
    o = _t(spark, sf, "orders")
    # "late" proxy on this schema (no commitdate column): shipped after
    # the cutoff — deterministic and engine-portable
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    late = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_events_cube(spark, sf):
    """CUBE aggregate: event counts and value sums for every
    (event_type × week) combination INCLUDING both marginal totals and
    the grand total — the other grouping-sets shape next to
    q_rollup_revenue's ROLLUP."""
    e = _t(spark, sf, "events")
    base = e.select(
        "event_type",
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        "value",
    )
    # grouping() discriminates the CUBE total rows from a hypothetical
    # genuine NULL key — coalesce alone would conflate them
    return (
        base.cube("event_type", "week")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.grouping("event_type").alias("_ge"),
            F.grouping("week").alias("_gw"),
        )
        .select(
            F.when(F.col("_ge") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("event_type", F.lit("NULL")))
            .alias("event_type"),
            F.when(F.col("_gw") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("week", F.lit("NULL")))
            .alias("week"),
            "n_events",
            "total_value",
        )
    )


def _q_events_retention(spark, sf):
    """Weekly cohort retention: users grouped by first-activity week,
    counted per week offset — cohort relation is a per-user aggregate
    joined back to the distinct (user, week) activity relation; all
    arithmetic on dates/ints (exact cross-engine)."""
    e = _t(spark, sf, "events")
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    joined = activity.join(cohort, "user_id")
    return (
        joined.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def _top_boilerplate_spans(spark, sf):
    """Most-repeated verbatim 5-token spans — the boilerplate report
    behind span-dedup policy (dedup.top_boilerplate_spans)."""
    from model_audit_spark.operators.dedup import top_boilerplate_spans

    docs = _t(spark, sf, "documents")
    return top_boilerplate_spans(docs, span_tokens=5, k=20)


def _dsir_select(spark, sf):
    """DSIR selection leg: per-source top-25% of the raw pool by
    importance weight (deterministic rank variant, operators/dsir.py)."""
    from model_audit_spark.operators.dsir import dsir_select, dsir_weights

    docs = _t(spark, sf, "documents")
    w = dsir_weights(docs, F.col("source") == "src0")
    with_src = w.join(docs.select("doc_id", "source"), "doc_id")
    return dsir_select(with_src, keep_frac=0.25)


def _ann_lsh_multiprobe(spark, sf):
    """Multi-probe LSH: Hamming-1 bucket neighborhood repairs the recall
    a single bucket loses at plane boundaries (similarity.py)."""
    from model_audit_spark.operators.similarity import lsh_multiprobe_topk

    emb = _t(spark, sf, "embeddings")
    return lsh_multiprobe_topk(
        emb, query_vec_id=0, k=10, n_planes=6, probe_radius=1, dim=64
    )


def _ivf_append(spark, sf):
    """Incremental IVF maintenance: even-id vectors are the existing
    index (they train the frozen quantizer), odd-id vectors the
    appended batch — per-cell growth + balance report
    (similarity.ivf_append_report)."""
    from model_audit_spark.operators.similarity import ivf_append_report

    emb = _t(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    return ivf_append_report(base, new, n_clusters=8)


def _ann_ivf_topk(spark, sf):
    """IVF ANN with the build step explicit and separable: seeded-sample
    quantizer (deterministic, SQL-reproducible -> oracle-checked) builds
    the index; ivf_probe is the declarative query-time path. Production
    trains with ivf_index_kmeans instead and persists `assigned` bucketed
    by cluster (similarity.py docstrings)."""
    from model_audit_spark.operators.similarity import ivf_probe

    _, centroids, assigned = _ivf_index(spark, sf)
    return ivf_probe(assigned, query_vec_id=0, centroids=centroids,
                     k=10, nprobe=3)


def _embedding_pairs_exact(spark, sf):
    from model_audit_spark.operators.similarity import (
        embedding_cosine_pairs_exact,
    )

    emb = _t(spark, sf, "embeddings")
    # synthetic embeddings are near-orthogonal (max pair ~0.51);
    # 0.4 keeps the oracle comparison over real rows
    return embedding_cosine_pairs_exact(emb, threshold=0.4)


def _embedding_near_dups(spark, sf):
    emb = _t(spark, sf, "embeddings")
    # 0.4 is data-calibrated (synthetic embeddings are near-orthogonal,
    # max pair ~0.51) and matches the exact verification twin
    # embedding_pairs_exact, so LSH⊆exact recall stays testable. 4 planes
    # keeps 9 of the 59 exact pairs at this sf (8 planes keeps only 1).
    return embedding_cosine_pairs(emb, threshold=0.4, n_planes=4, dim=64)


def _q_events_asof(spark, sf):
    """As-of join (union-window formulation, operators/asof.py): each
    purchase matched to the user's latest prior-or-equal click. Oracle is
    DuckDB's native ASOF LEFT JOIN; (user_id, ts) is unique in events, so
    the match is unambiguous. lag in integer microseconds — no float."""
    from model_audit_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(
        purchases, clicks, by="user_id", right_cols=("event_id",),
        suffix="_click",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("event_id_click").alias("click_event_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_click")).alias("lag_us"),
    )


def _q_events_range_join(spark, sf):
    """Range join: clicks in the 10 minutes before each purchase, per
    user. Sum aggregates in DECIMAL (exact, partition-order-independent)
    and casts to double only after rounding — the bit-stability pattern
    from the round-1 float-ordering failures."""
    from model_audit_spark.operators.asof import range_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    j = range_join(
        purchases, clicks, by="user_id", lookback="10 minutes",
        right_cols=("value",), suffix="_click",
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("value_click").cast("double"), 2).alias("click_value"),
    )


def _curate_corpus(spark, sf):
    """End-to-end training-data curation verdict per doc (lang -> quality
    -> exact-dup -> minhash near-dup, first failing stage wins). Composes
    the already-audited single-pass stats projection, md5 keep-first
    window, and bucket-LSH near-dup pipeline; oracle composes the same
    three stage SQLs."""
    from model_audit_spark.operators.curate import curate_corpus

    docs = _t(spark, sf, "documents")
    # min_quality=0.6 is data-calibrated: the synthetic corpus bottoms out
    # at quality 0.5, so 0.6 exercises the quality stage (~27% drop) while
    # lang/exact stages are covered by unit tests with synthetic inputs
    return curate_corpus(docs, min_quality=0.6)


def _streaming_source_verdict(spark, sf):
    """§2.10 stateful streaming (applyInPandasWithState): run the document
    file stream to completion (availableNow trigger) and return the FINAL
    running verdict per source — which must equal the batch
    majority/consistency aggregate the oracle computes."""
    import tempfile

    from pyspark.sql import Window

    from model_audit_spark.streaming import running_source_verdict

    name = _sink_view(spark, "verdict_")
    ckpt = tempfile.mkdtemp(prefix="ma_ckpt_")
    path = f"{sf}/documents.parquet"
    # the file source streams directories; stage the table file in one
    stage = tempfile.mkdtemp(prefix="ma_stream_")
    os.symlink(path, os.path.join(stage, "part-0.parquet"))
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    # State shards should be sized to key cardinality, not the batch
    # shuffle width: the verdict keys on `source` (~20 distinct), and each
    # state partition costs a store + an Arrow worker round-trip per
    # micro-batch. 8 shards is 1.5x faster than 32 here and the setting is
    # pinned into the checkpoint, not the session (restored in finally).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            running_source_verdict(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # availableNow must drain cleanly: a timeout or failed query
        # would leave a partial memory-sink table and silently produce
        # wrong results downstream — error out instead
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming query did not terminate within 300s"
            )
        if q.exception() is not None:
            raise q.exception()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = Window.partitionBy("source").orderBy(F.desc("n_texts"))
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _embedding_dim_stats(spark, sf):
    """Per-dimension moments of the embedding column — one hash
    aggregate keyed by dim (operators/embstats.py)."""
    from model_audit_spark.operators.embstats import embedding_dim_stats

    return embedding_dim_stats(_t(spark, sf, "embeddings"))


def _label_separation(spark, sf):
    """Pairwise cosine between per-label centroids: class-separability
    diagnostic over a corpus-size-independent centroid relation
    (operators/embstats.py)."""
    from model_audit_spark.operators.embstats import centroid_separation

    return centroid_separation(_t(spark, sf, "embeddings"))


def _mixture_weights(spark, sf):
    """Temperature-scaled source mixing weights over token mass
    (operators/sampling.py temperature_mix_weights, alpha=0.7)."""
    from model_audit_spark.operators.sampling import temperature_mix_weights

    docs = _t(spark, sf, "documents")
    return temperature_mix_weights(
        docs, stratum_col="source", alpha=0.7, size_col="n_chars"
    )


def _q7_volume_shipping(spark, sf):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year — the widest join tree in the suite (lineitem ⋈ orders ⋈
    supplier ⋈ customer ⋈ nation×2). Nation dims broadcast; Catalyst
    pushes the IN(name) filters into both nation scans so the dimension
    joins prune before the fact-fact join."""
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_name").alias("cust_nation"),
    )
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate",
    )
    na, nb = "NATION_1", "NATION_2"
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), c.c_nationkey == n2.c_nk)
        .filter(
            (
                (F.col("supp_nation") == na)
                & (F.col("cust_nation") == nb)
            )
            | (
                (F.col("supp_nation") == nb)
                & (F.col("cust_nation") == na)
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _leakage_safe_splits(spark, sf):
    """Cluster-aware train/val/test assignment: near-dup clusters (the
    dedup_clusters chain) are split by CLUSTER id, so every member of a
    near-dup cluster lands in the same split — eval leakage through
    near-duplicates is structurally impossible
    (sampling.assign_splits keyed on cluster_id)."""
    from model_audit_spark.operators.cluster import cluster_documents
    from model_audit_spark.operators.sampling import assign_splits

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    clustered = cluster_documents(docs, verified, "doc_id").select(
        "doc_id", "cluster_id"
    )
    return assign_splits(
        clustered,
        {"train": 0.9, "val": 0.05, "test": 0.05},
        key_col="cluster_id",
    )


def _streaming_drift(spark, sf):
    """§2.10 streaming drift monitor: the src0 baseline histogram is a
    static batch relation; the rest of the corpus streams through
    streaming_bucket_counts (running per-(feature,bucket) counters,
    state bounded by the FIXED bucketing); psi_from_counts compares the
    final streamed histogram to the baseline — and must hash-match the
    all-batch corpus_drift oracle."""
    import tempfile

    from model_audit_spark.operators.drift import (
        bucket_counts,
        psi_from_counts,
    )
    from model_audit_spark.operators.text_analysis import with_doc_stats
    from model_audit_spark.streaming import streaming_bucket_counts

    # staged fused quality column (with_doc_stats — stateless, legal on
    # the stream side too): the dict-expression form re-inlined the
    # quality tree per feature struct (the corpus_drift finding)
    buckets = {
        "len": F.least(
            F.floor(F.length(F.coalesce(F.col("text"), F.lit(""))) / 200),
            F.lit(19),
        ),
        "quality": F.floor(F.col("quality_score") * 10),
    }

    def _staged(frame):
        return with_doc_stats(
            frame.select("doc_id", "text", "source"),
            "text",
            names=["quality_score"],
        )

    path = f"{sf}/documents.parquet"
    docs = spark.read.parquet(path)
    baseline = bucket_counts(
        _staged(docs.filter(F.col("source") == "src0")), buckets
    )
    name = _sink_view(spark, "drift_")
    ckpt = tempfile.mkdtemp(prefix="ma_ckpt_")
    stage = tempfile.mkdtemp(prefix="ma_stream_")
    os.symlink(path, os.path.join(stage, "part-0.parquet"))
    schema = docs.schema
    # coalesce: a NULL source is NOT src0 and must stay on the stream
    # (B) side, exactly as the batch PSI's is_a=false branch counts it
    stream = _staged(
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.coalesce(F.col("source"), F.lit("")) != "src0")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # histogram keys are ~40 distinct (feature, bucket) pairs; 8
        # state shards beat 32 for the same reason as the verdict query
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            streaming_bucket_counts(stream, buckets)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # availableNow must drain cleanly: a timeout or failed query
        # would leave a partial memory-sink table and silently produce
        # wrong results downstream — error out instead
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming query did not terminate within 300s"
            )
        if q.exception() is not None:
            raise q.exception()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return psi_from_counts(baseline, spark.table(name))


def _dedup_threshold_sweep(spark, sf):
    """How aggressive should near-dup removal be? Pair counts at every
    candidate threshold from ONE verify pass: the LSH chain runs once at
    the loosest threshold (0.3) and the sweep is a broadcast theta-join
    of the 7-row threshold relation against the verified pairs."""
    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs, min_jaccard=0.3).select("jaccard")
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x / 10.0) for x in range(3, 10)])
        ).alias("threshold")
    )
    return (
        F.broadcast(th)
        .join(verified, F.col("jaccard") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.count("jaccard").alias("n_pairs"))
        .orderBy("threshold")
    )


def _embedding_principal(spark, sf):
    """Dominant principal direction of the embedding corpus: quantized
    mean-covariance + exact-integer power iteration — an ITERATIVE
    numeric algorithm that still hash-matches its SQL twin
    (embstats.principal_direction)."""
    from model_audit_spark.operators.embstats import principal_direction

    return principal_direction(_t(spark, sf, "embeddings"))


def _dup_graph_stats(spark, sf):
    """One-row health report of the near-dup graph: is the chosen
    threshold producing clique-like clusters (clustering coeff → 1) or
    transitive chains (→ 0)? (cluster.graph_stats)"""
    from model_audit_spark.operators.cluster import graph_stats

    docs = _t(spark, sf, "documents")
    pairs = _dup_verified(docs).select("id_a", "id_b")
    return graph_stats(pairs, "id_a", "id_b")


def _q19_disjunctive(spark, sf):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides — exercises disjunction normalization: the common
    conjuncts (quantity floor, size floor) push to the scans while the
    brand×range disjunction evaluates post-join."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 5)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
            ),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def _q22_global_threshold(spark, sf):
    """TPC-H Q22 shape: positive-balance customers above the GLOBAL
    average balance with no URGENT orders — a scalar-aggregate
    broadcast (1-row cross join) feeding an anti join against a
    FILTERED order relation (the filter pushes into the orders scan),
    grouped by customer segment."""
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        rich.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def _q6_forecast_revenue(spark, sf):
    """TPC-H Q6 shape — pure scan-aggregate: every predicate (date
    range, discount band, quantity cap) pushes into the parquet scan
    (PushedFilters), no join, no shuffle beyond the 1-row agg."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount"))
                .cast("decimal(18,4)")
            ).alias("_s4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        # integer HALF_UP emit (see _q10_returned_items): exact 4dp
        # decimal sum -> integral long -> (x+50) DIV 100 -> /100.0
        .select(
            (
                F.expr("(CAST(_s4 * 10000 AS BIGINT) + 50) DIV 100")
                / F.lit(100.0)
            ).alias("revenue"),
            "n_lines",
        )
    )


def _q10_returned_items(spark, sf):
    """TPC-H Q10 shape — returned-item reporting: 3-table join with the
    quarter filter on orders and the returnflag filter on lineitem both
    pushed to their scans, nation broadcast, top-20 by revenue."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("_s4")
        )
        # HALF_UP to 2dp entirely in integers (decimal rescale is NOT
        # portable: Spark rounds, DuckDB truncates — and an engine
        # round() on the double hits exact .x5 ties): scale the exact
        # 4dp sum to an integral long, (x+50) DIV 100, emit /100.0
        .select(
            "c_custkey", "c_name", "n_name", "c_acctbal",
            (
                F.expr(
                    "(CAST(_s4 * 10000 AS BIGINT) + 50) DIV 100"
                )
                / F.lit(100.0)
            ).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def _q12_ship_delay(spark, sf):
    """TPC-H Q12 shape (adapted: the testdata schema has no l_shipmode /
    commitdate, so the grouping dimension is the DERIVED ship-delay
    bucket) — join + conditional aggregation: per 30-day order-to-ship
    delay bucket, how many high- vs low-priority lineitems shipped in
    1996."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.least(
        F.greatest(
            F.floor(F.datediff("l_shipdate", "o_orderdate") / 30),
            F.lit(0),
        ),
        F.lit(5),
    ).cast("int")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def _q13_order_distribution(spark, sf):
    """TPC-H Q13 shape — the double aggregate over a LEFT OUTER join:
    orders per customer (zero included, priority filter standing in for
    the comment NOT LIKE), then the customer-count distribution."""
    c = _t(spark, sf, "customer").select("c_custkey")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def _q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape — join + conditional-fraction aggregate: the
    PROMO share of September-1996 revenue (part side broadcast; the
    month filter pushes to the lineitem scan)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = _t(spark, sf, "part").select("p_partkey", "p_type")
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            # exact decimal sums; the final division runs on identical
            # doubles in both engines
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q15_top_supplier(spark, sf):
    """TPC-H Q15 shape — aggregate view + global-max scalar: quarterly
    revenue per supplier, then exactly the suppliers achieving the
    maximum (the rounded revenue is compared, so the equality is over
    identical 2dp values in both engines)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("_s4")
        )
        # integer HALF_UP emit (see _q10_returned_items) — this value
        # also feeds the max-equality, so it must be tie-proof
        .select(
            "l_suppkey",
            (
                F.expr("(CAST(_s4 * 10000 AS BIGINT) + 50) DIV 100")
                / F.lit(100.0)
            ).alias("total_revenue"),
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def _q18_large_volume(spark, sf):
    """TPC-H Q18 shape — HAVING-filtered aggregate driving a semi
    lookup: orders whose total quantity exceeds 300, with customer and
    order details, top 100 by (totalprice desc, orderkey)."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def _q21_waiting_supplier(spark, sf):
    """TPC-H Q21 shape (adapted: no commit/receipt dates in the
    testdata, so "late" = shipped strictly after every other supplier
    on the order) — the EXISTS / NOT-EXISTS double correlation as a
    semi join plus an anti join with a non-equi conjunct: suppliers who
    were the last to ship on finished multi-supplier orders."""
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1 = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).drop(
        "o_orderkey"
    ).persist()
    l2 = l1.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("_ok3"),
        F.col("l_suppkey").alias("_sk3"),
        F.col("l_shipdate").alias("_sd3"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("_ok2"))
            & (F.col("l_suppkey") != F.col("_sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("_ok3"))
            & (F.col("l_suppkey") != F.col("_sk3"))
            & (F.col("_sd3") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def _quota_sample(spark, sf):
    """Exact-count stratified sample: seeded-hash rank per source, CASE
    quota cut (sampling.quota_sample) — the count-contract the
    fractional sampler cannot honor."""
    from model_audit_spark.operators.sampling import quota_sample

    docs = _t(spark, sf, "documents")
    return quota_sample(
        docs,
        {"src0": 12, "src1": 7, "src2": 20},
        stratum_col="source",
        id_col="doc_id",
        salt="s2",
        default_quota=3,
    ).select("doc_id", "source", F.col("smp_rank").cast("bigint").alias("smp_rank"))


def _vocab_coverage(spark, sf):
    """Global top-500 vocabulary + per-source OOV occurrence/type rates
    (text_analysis.vocab_coverage) — tokenizer-coverage health."""
    from model_audit_spark.operators.text_analysis import vocab_coverage

    docs = _t(spark, sf, "documents")
    return vocab_coverage(docs, vocab_size=500)


def _weighted_sample_es(spark, sf):
    """Efraimidis-Spirakis weighted sampling without replacement:
    50 documents drawn proportional to n_chars via seeded exponential
    keys — pure projection + TakeOrdered top-k (sampling
    .weighted_sample_es)."""
    from model_audit_spark.operators.sampling import weighted_sample_es

    docs = _t(spark, sf, "documents")
    return weighted_sample_es(
        docs, weight_col="n_chars", k=50, id_col="doc_id", salt="es1"
    ).select("doc_id", "source", "n_chars", "es_key")


def _bpe_merges(spark, sf):
    """BPE merge learning (Sennrich 2016): 8 merges over the corpus
    word-frequency relation (bpe.learn_bpe_merges) — ONE distributed
    corpus pass, then the driver-side incremental learner over the
    measured, Heaps-bounded vocabulary (the distributed loop takes over
    above the vocabulary-size gate). The unrolled-CTE island-parity
    oracle hash-certifies the learned chain step for step."""
    from model_audit_spark.operators.bpe import learn_bpe_merges

    docs = _t(spark, sf, "documents")
    return learn_bpe_merges(docs, n_merges=8, memo_key=sf)


def _bpe_segments(spark, sf):
    """The application half of BPE: how the 8 learned merges segment the
    200 most frequent corpus words, with per-word fertility — same
    unrolled-CTE oracle chain, final vocabulary state
    (bpe.bpe_vocab_segments). The chain is learned driver-side
    (memo-shared with bpe_merges in a session batch) and applied as 8
    literal apply_merge folds in one projection."""
    from model_audit_spark.operators.bpe import bpe_vocab_segments

    docs = _t(spark, sf, "documents")
    return bpe_vocab_segments(docs, n_merges=8, top_k=200, memo_key=sf)


def _bpe_merges64(spark, sf):
    """BPE at production merge counts (r6, bpe.learn_bpe_merges): ONE
    distributed corpus pass collapses to the Heaps-bounded (word, freq)
    relation, then an incremental driver-side Sennrich learner runs all
    64 steps in a single job instead of 64 sequential per-step actions
    (pure scheduling latency at any data size; the r5 perf finding).
    The oracle still unrolls all 64 steps as MATERIALIZED CTEs, so the
    full chain stays hash-certified step by step; the memo key lets
    bpe_fertility64 reuse this chain within one session batch."""
    from model_audit_spark.operators.bpe import learn_bpe_merges

    docs = _t(spark, sf, "documents")
    return learn_bpe_merges(docs, n_merges=64, memo_key=sf)


def _bpe_fertility64(spark, sf):
    """Final-state certificate of the 64-merge chain: exact vocabulary
    totals + freq-weighted mean fertility (tokens per word — the number
    that prices training compute) in one row (bpe.bpe_fertility).
    Shares bpe_merges64's learned chain through the persistence.memo_obj
    key instead of re-learning all 64 steps (the r5 duplicate-work
    finding)."""
    from model_audit_spark.operators.bpe import bpe_fertility

    docs = _t(spark, sf, "documents")
    return bpe_fertility(docs, n_merges=64, memo_key=sf)


def _events_decayed(spark, sf):
    """Exponentially time-decayed event counts (1-day half-life at the
    corpus end time) — the trending/recency aggregate; one corpus-sized
    hash agg, transcendental per DISTINCT (type, minute) only
    (rollup.decayed_counts)."""
    from model_audit_spark.operators.rollup import decayed_counts

    ev = _t(spark, sf, "events")
    return decayed_counts(
        ev, ref_time="2024-01-31 00:00:00", half_life_minutes=1440
    )


def _ann_sq8_topk(spark, sf):
    """SQ8 scalar-quantization ANN: 1 byte/dim codes from per-dim
    min/max, approximate dot via a per-query scale array — the
    accuracy/size midpoint between brute-force float and PQ
    (similarity.sq8_topk)."""
    from model_audit_spark.operators.similarity import sq8_topk

    emb, params, enc = _sq8_index(spark, sf)
    return sq8_topk(emb, query_vec_id=0, k=10, params=params, enc=enc)


def _ann_sq8_rerank(spark, sf):
    """Two-stage SQ8 retrieval: byte-code shortlist -> exact cosine
    re-rank over the candidate-bounded float vectors
    (similarity.sq8_rerank_topk)."""
    from model_audit_spark.operators.similarity import sq8_rerank_topk

    emb, params, enc = _sq8_index(spark, sf)
    return sq8_rerank_topk(
        emb, query_vec_id=0, k=10, shortlist=50, params=params, enc=enc
    )


def _ann_ivf_sq8(spark, sf):
    """IVF + SQ8 hybrid: coarse cells bound candidates, 1-byte codes
    score them — the probe path never touches float vectors
    (similarity.ivf_sq8_topk)."""
    from model_audit_spark.operators.similarity import ivf_sq8_topk

    emb, centroids, assigned = _ivf_index(spark, sf)
    _, params, enc = _sq8_index(spark, sf)
    return ivf_sq8_topk(
        emb, query_vec_id=0, k=10, n_clusters=8, nprobe=3,
        centroids=centroids, assigned=assigned, params=params, enc=enc,
    )


def _ann_recall_report(spark, sf):
    """Measured recall@10 of every ANN path (lsh / multiprobe / ivf /
    pq / pq_rerank / sq8 / sq8_rerank / ivf_sq8) against the exact
    cosine top-10 — one oracle-checked row per method, same parameters
    as the standing per-method gate queries (similarity.
    ann_recall_report; twin composes the certified CTEs)."""
    from model_audit_spark.operators.similarity import ann_recall_report

    emb = _t(spark, sf, "embeddings")
    return ann_recall_report(emb, query_vec_id=0, k=10, dim=64)


def _events_ks_drift(spark, sf):
    """Two-sample Kolmogorov-Smirnov: purchase vs view value
    distributions — max ECDF gap with no binning choice beyond the
    portable quantization (drift.ks_two_sample; complements PSI)."""
    from model_audit_spark.operators.drift import ks_two_sample

    ev = _t(spark, sf, "events")
    return ks_two_sample(
        ev,
        F.col("event_type") == "purchase",
        F.col("event_type") == "view",
        value_col="value",
    )


def _events_hourly_anomalies(spark, sf):
    """Volume-anomaly monitor: hours deviating >= 2 sigma from the
    trailing 24 observed hours of the same event type — exact-integer
    trailing moments, identical-double z (drift.hourly_anomaly_zscore)."""
    from model_audit_spark.operators.drift import hourly_anomaly_zscore

    ev = _t(spark, sf, "events")
    return hourly_anomaly_zscore(ev)


def _quality_threshold_sweep(spark, sf):
    """Retention curve of the quality filter: docs kept / fraction /
    mean surviving quality per cutoff, from ONE scored scan theta-
    joined against the broadcast threshold relation
    (text_analysis.quality_threshold_sweep)."""
    from model_audit_spark.operators.text_analysis import (
        quality_threshold_sweep,
    )

    docs = _t(spark, sf, "documents")
    return quality_threshold_sweep(docs)


def _paragraph_near_dups(spark, sf):
    """Fuzzy passage-level dedup: the minhash band+verify chain over
    the PARAGRAPH relation (pid = doc:pos) — catches lightly-edited
    repeated passages that byte-exact paragraph_dedup misses and that
    document-level Jaccard dilutes (dedup.paragraph_near_dup_pairs)."""
    from model_audit_spark.operators.dedup import paragraph_near_dup_pairs

    docs = _t(spark, sf, "documents")
    return paragraph_near_dup_pairs(docs, min_jaccard=0.5)


def _ann_param_sweep(spark, sf):
    """Recall@10 as a function of each ANN family's tunable —
    multiprobe radius 0/1/2, IVF nprobe 1/2/8, SQ8/PQ rerank shortlist
    10/50 — against exact cosine (similarity.ann_param_sweep). The
    recall-vs-cost table an operator reads to set the knobs at 100 TB;
    monotone along every axis (superset probes), pinned in tests."""
    from model_audit_spark.operators.similarity import ann_param_sweep

    emb = _t(spark, sf, "embeddings")
    return ann_param_sweep(emb, query_vec_id=0, k=10, dim=64)


def _dedup_containment(spark, sf):
    """Asymmetric near-dup: pairs where the smaller document's shingle
    set is >= 60% inside the larger one — the embedded-document case
    Jaccard LSH misses (dedup.containment_prefix_pairs). One-sided
    rare-first prefix candidates; the oracle is the FULL all-pairs SQL,
    so the hash match certifies lossless pruning."""
    from model_audit_spark.operators.dedup import containment_prefix_pairs

    docs = _t(spark, sf, "documents")
    return containment_prefix_pairs(
        docs, min_containment=0.6, shingles=_dup_shingles(docs)
    )


def _dedup_clusters_incremental(spark, sf):
    """Incremental cluster maintenance: docs with doc_id%10==0 arrive as
    a new batch; their pairs fold into the old assignment via star edges
    (cluster.incremental_cluster_documents). The oracle is the FULL
    recompute over all pairs — the hash match certifies the incremental
    path is lossless."""
    from model_audit_spark.operators.cluster import (
        cluster_documents,
        incremental_cluster_documents,
    )

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    # the memoized verified relation is already persisted (r12)
    is_old = lambda c: F.col(c) % 10 != 0  # noqa: E731
    old_pairs = verified.filter(is_old("id_a") & is_old("id_b"))
    assignment = cluster_documents(
        docs.filter(is_old("doc_id")), old_pairs, "doc_id"
    ).select("doc_id", "cluster_id")
    new_pairs = verified.filter(
        ~is_old("id_a") | ~is_old("id_b")
    )
    return incremental_cluster_documents(
        docs, assignment, new_pairs, "doc_id"
    )


def _source_data_card(spark, sf):
    """Per-source corpus release card in ONE aggregate over ONE scan
    (operators/text_analysis.py source_data_card)."""
    from model_audit_spark.operators.text_analysis import source_data_card

    return source_data_card(_t(spark, sf, "documents"))


def _q8_market_share(spark, sf):
    """TPC-H Q8 shape: NATION_3 suppliers' share of ECONOMY-part revenue
    sold to ASIA customers, by order year — conditional aggregation over
    a 7-relation join tree (the join-reorder workout: part filter prunes
    lineitem first, region filter prunes the customer leg)."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"),
    )
    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_regionkey").alias("c_rk"),
    )
    region = (
        _t(spark, sf, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    vol = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nk)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nk)
        .join(F.broadcast(region), n2.c_rk == region.r_regionkey)
        .select(
            "o_year",
            (
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
            ).alias("vol"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("vol")
                    ).otherwise(F.lit(0.0))
                )
                / F.sum("vol"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def _snapshot_diff(spark, sf):
    """Corpus delta between two deterministic snapshot views of the
    documents table (operators/snapshot.py): drop doc_id%11==0 from the
    old side, doc_id%13==0 from the new side, and append a ' [v2]'
    marker to every doc_id%17==0 text on the new side — exercising all
    three statuses (added / removed / changed)."""
    from model_audit_spark.operators.snapshot import corpus_snapshot_diff

    docs = _t(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0)
    new = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")), F.lit(" [v2]")
            ),
        ).otherwise(F.col("text")),
    )
    return corpus_snapshot_diff(old, new)


def _q_salted_revenue(spark, sf):
    """Revenue per order priority through skew.salted_join: orderkeys
    with ≥6 lineitems are treated as hot and salted 4 ways. The oracle
    twin is the PLAIN join — the hash match certifies the hot/cold
    split + salt replication loses and duplicates nothing."""
    from model_audit_spark.operators.skew import salted_join

    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_linenumber"
    )
    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    hot = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 6)
        .select("l_orderkey")
    )
    j = salted_join(
        li, o, "l_orderkey", n_salts=4, hot_keys=hot,
        uid_col="l_linenumber",
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .orderBy("o_orderpriority")
    )


def _q2_min_acctbal_supplier(spark, sf):
    """TPC-H Q2 shape — correlated-min subquery over a part×supplier
    candidate relation (reference has no relational layer; shape kept
    for engine completeness; slim schema has no partsupp, so the
    candidate set is the DISTINCT (partkey, suppkey) pairs observed in
    lineitem and the minimized cost is s_acctbal): for every LARGE
    size-15 part, the EUROPE supplier(s) with the minimum account
    balance among its shippers. Decorrelated Spark-first: per-part min
    as an aggregate, equi-rejoin on (partkey, acctbal) — the acctbals
    compared are STORED doubles passing through both engines untouched,
    so the equality is exact. Dims broadcast; the only shuffle is the
    distinct + per-part min on partkey."""
    pairs = (
        _t(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = (
        _t(spark, sf, "part")
        .filter(
            (F.col("p_size") % 10 == 5) & (F.col("p_type") == "LARGE")
        )
        .select("p_partkey", "p_name")
    )
    s = _t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    n = _t(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = (
        _t(spark, sf, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    cand = (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(F.broadcast(s), pairs.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name",
                "n_name", "s_acctbal")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("s_acctbal").alias("_mn")
    )
    return (
        cand.join(
            F.broadcast(mn),
            (cand.p_partkey == mn._pk) & (cand.s_acctbal == mn._mn),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


def _q9_product_profit(spark, sf):
    """TPC-H Q9 shape — profit per (supplier nation, order year) over a
    5-relation join tree (slim schema: no partsupp, so the cost leg is
    the proxy 0.5 * p_retailprice * l_quantity). Both terms are cast to
    DECIMAL(18,4) from bit-identical double products, summed exactly,
    and emitted as CAST(sum AS DOUBLE) — safe for NEGATIVE profits
    where the +50 DIV HALF_UP emit would diverge (Spark DIV truncates
    toward zero, DuckDB // floors). Part filter prunes lineitem before
    the orders join; nation broadcast."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(18,4)") - (
        F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.5)
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def _q11_important_parts(spark, sf):
    """TPC-H Q11 shape — per-group value vs a global-total scalar
    subquery (slim schema: value of a part is the exact decimal revenue
    its NATION_7 shippers produced, standing in for supplycost ×
    availqty): keep parts whose value exceeds 1/1000 of the total. The
    threshold compare runs in the exact decimal domain (value * 1000 >
    total — no float fraction), so membership is tie-proof; the emitted
    value is CAST(dec AS DOUBLE). One shuffle (partkey agg); the total
    is a broadcast scalar."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = (
        _t(spark, sf, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .alias("_v")
        )
    )
    total = val.agg(F.sum("_v").alias("_tot"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("_v") * 1000 > F.col("_tot"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("_v").cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


def _q16_supplier_count(spark, sf):
    """TPC-H Q16 shape — supplier count per part attribute triple with
    a NOT-IN supplier exclusion (slim schema: the supplier↔part
    relation is DISTINCT (l_partkey, l_suppkey) from lineitem; the
    'complaints' exclusion is the deterministic s_suppkey % 10 == 7
    band). Pure integer/string relation — exact by construction. The
    distinct prunes before the part join; part and the exclusion list
    broadcast."""
    pairs = (
        _t(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = (
        _t(spark, sf, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.filter(F.col("l_suppkey") % 10 != 7)
        .join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def _q20_dominant_supplier(spark, sf):
    """TPC-H Q20 shape — semi-join against a correlated aggregate
    threshold (slim schema: no availqty, so a supplier 'qualifies' on a
    part if its 1996 shipped quantity of that 'small%' part exceeds
    half of ALL suppliers' 1996 quantity of it — the same
    per-(part,supplier)-sum vs scaled-per-part-sum comparison). Both
    sums are exact DECIMAL(18,2) (quantities are integral); the compare
    qty*2 > total is in the decimal domain. Suppliers restricted to
    AMERICA. Shuffles: one (part,supp) agg; the per-part total derives
    from it map-side."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    ps = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .alias("_qty")
        )
    )
    tot = ps.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_qty").alias("_tot")
    )
    qual = (
        ps.join(tot, ps.l_partkey == tot._pk)
        .filter(F.col("_qty") * 2 > F.col("_tot"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = (
        _t(spark, sf, "region")
        .filter(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def _doc_entropy(spark, sf):
    """Per-document character Shannon entropy in integer-nanonat
    arithmetic (operators/lm.char_entropy_scores) — the low-entropy
    junk-detector quality signal; exact across engines by the
    char_lm_scores bit-stability argument."""
    from model_audit_spark.operators.lm import char_entropy_scores

    docs = _t(spark, sf, "documents")
    return char_entropy_scores(docs, "text", "doc_id")


def _heaps_vocab_growth(spark, sf):
    """Heaps'-law vocabulary growth curve at 10 doc-id checkpoints
    (text_analysis.heaps_vocab_growth) — pure integer relation."""
    from model_audit_spark.operators.text_analysis import heaps_vocab_growth

    docs = _t(spark, sf, "documents")
    return heaps_vocab_growth(docs, n_checkpoints=10)


def _zipf_slope(spark, sf):
    """Rank-frequency log-log OLS slope over the top-100 tokens
    (text_analysis.zipf_slope) — nanonat-quantized logs, DECIMAL(38,0)
    OLS sums, one exact-int division at the end."""
    from model_audit_spark.operators.text_analysis import zipf_slope

    docs = _t(spark, sf, "documents")
    return zipf_slope(docs, max_rank=100)


def _column_profile_lineitem(spark, sf):
    """Deequ-style per-column profile of lineitem (stats.column_profile):
    nulls, distincts, typed extremes — one column-pruned pass per column,
    deliberately NOT a single multi-countDistinct EXPAND plan."""
    from model_audit_spark.operators.stats import column_profile

    li = _t(spark, sf, "lineitem")
    return column_profile(li)


def _link_prediction_aa(spark, sf):
    """Adamic-Adar link prediction over the kNN similarity graph
    (cluster.adamic_adar_scores): top-100 non-adjacent pairs by exact
    integer-nanonat AA score — "should be neighbors but the top-k cut
    missed them", ranked. Hub centers above max_degree excluded
    (1/ln(deg) ≈ 0 there; bounds wedge fan-out). The near-dup minhash
    graph is the wrong input at gate SF (25 edges, max degree 2, every
    wedge closed), so the k=5 kNN graph supplies the open wedges."""
    from model_audit_spark.operators.cluster import adamic_adar_scores

    return adamic_adar_scores(
        _knn_graph(spark, sf), src_col="src", dst_col="dst",
        max_degree=1000, top_k=100,
    )


def _l_diversity(spark, sf):
    """l-diversity histogram over events: quasi-identifiers
    (event_type, day), sensitive attribute user_id
    (pii.l_diversity_profile) — the attribute-disclosure companion to
    k_anonymity."""
    from model_audit_spark.operators.pii import l_diversity_profile

    ev = _t(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    return l_diversity_profile(
        ev, ["event_type", "day"], "user_id", l=3
    ).orderBy("diversity")


def _dedup_canonical(spark, sf):
    """Canonical-text dedup (dedup.canonical_dedup_groups) over the
    documents table plus a deterministic byte-variant view — every
    doc_id%7==0 document reappears re-cased, re-padded and re-wrapped
    under id+10_000_000 (the corpus itself has no byte variants, so the
    variant side guarantees the normalization layer is exercised: raw
    hashing finds nothing, the canonical key must collapse each planted
    pair)."""
    from model_audit_spark.operators.dedup import canonical_dedup_groups

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.upper(F.coalesce(F.col("text"), F.lit(""))),
            F.lit(" \n\t"),
        ).alias("text"),
    )
    return canonical_dedup_groups(docs.unionByName(variants))


def _mixing_plan(spark, sf):
    """Token-budget mixing plan per source (sampling.mixing_plan):
    temperature weights on exact token mass, planned tokens and implied
    epochs for a 10M-token budget."""
    from model_audit_spark.operators.sampling import mixing_plan

    docs = _t(spark, sf, "documents")
    return mixing_plan(docs, budget_tokens=10_000_000, alpha=0.7)


def _embedding_norm_outliers(spark, sf):
    """Squared-norm 3-sigma outliers over the embeddings table
    (embstats.norm_outliers) — all-integer moment comparison, in-row
    fold the only float step."""
    from model_audit_spark.operators.embstats import norm_outliers

    emb = _t(spark, sf, "embeddings")
    return norm_outliers(emb, "embedding", "vec_id", k_sigma=3)


def _event_transitions(spark, sf):
    """First-order Markov matrix of event types within gap sessions
    (threads.event_transitions): session-bounded lead successors,
    integer-ppm conditional probabilities."""
    from model_audit_spark.operators.threads import event_transitions

    ev = _t(spark, sf, "events")
    return event_transitions(ev, gap_seconds=1800)


def _boilerplate_templates(spark, sf):
    """Top repeated line templates per event_type over the
    semi-structured props column (text_analysis.boilerplate_templates)
    — digit masking collapses every '{\"k\": 42}' variant to one
    skeleton (the documents table is single-line word soup with no
    repeated lines, so props is where templates actually live)."""
    from model_audit_spark.operators.text_analysis import (
        boilerplate_templates,
    )

    ev = _t(spark, sf, "events")
    return boilerplate_templates(
        ev, top_k=3, text_col="props", group_col="event_type",
        min_count=2,
    )


def _feature_correlations(spark, sf):
    """Exact-moment Pearson correlations between integer document
    features (text_analysis.feature_correlations) — DECIMAL(38,0)
    sums, sqrt-of-exact-int assembly."""
    from model_audit_spark.operators.text_analysis import (
        feature_correlations,
    )

    docs = _t(spark, sf, "documents")
    return feature_correlations(docs)


def _interarrival_profile(spark, sf):
    """Per-event-type robust profile of user inter-arrival seconds:
    lag deltas over the (user, ts, event_id) order feed the
    histogram-exact median/MAD machinery (stats.robust_outlier_profile)
    — the hazard-rate QA view (bot-like constant cadence shows as
    MAD ~ 0; flooding as a heavy low tail)."""
    from model_audit_spark.operators.stats import robust_outlier_profile

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    return robust_outlier_profile(
        deltas, "delta", by="event_type"
    ).orderBy("event_type")


def _community_modularity(spark, sf):
    """Newman modularity of the label-propagation partition over the
    near-dup graph (cluster.community_modularity) — exact
    DECIMAL(38,0) numerator, one double division."""
    from model_audit_spark.operators.cluster import community_modularity

    docs = _t(spark, sf, "documents")
    verified = _dup_verified(docs).select("id_a", "id_b")
    labels = _dup_communities_rel(docs)
    return community_modularity(
        labels, verified, id_col="doc_id", label_col="community",
        src_col="id_a", dst_col="id_b",
    )


def _community_source_nmi(spark, sf):
    """Normalized mutual information between the near-dup communities
    and the source column (cluster.partition_label_nmi) — the "whole
    domains mirror each other" detector; integer-nanonat exact."""
    from model_audit_spark.operators.cluster import partition_label_nmi

    docs = _t(spark, sf, "documents")
    labels = _dup_communities_rel(docs)
    return partition_label_nmi(
        labels, docs.select("doc_id", "source"),
        id_col="doc_id", label_col="community", cat_col="source",
    )


def _length_quantiles_exact(spark, sf):
    """Histogram-exact per-source length quantiles at 5 permille
    points (stats.histogram_quantiles) — the scalable exact-percentile
    path (value-domain-bounded aggregate, no row buffering)."""
    from model_audit_spark.operators.stats import histogram_quantiles

    docs = _t(spark, sf, "documents")
    return histogram_quantiles(
        docs, "n_chars", by="source",
        permilles=(100, 250, 500, 750, 900),
    )


def _burstiness_profile(spark, sf):
    """Goh-Barabási burstiness of user inter-arrival gaps per event
    type (threads.burstiness_profile) — exact integer moments, one
    correctly-rounded sqrt."""
    from model_audit_spark.operators.threads import burstiness_profile

    ev = _t(spark, sf, "events")
    return burstiness_profile(ev)


# The driver's correctness-gate window: the FIRST 50 entries of
# queries(). MACHINE-MAINTAINED — regenerate with
#   python scripts/evidence_ledger.py --rotate
# which rewrites this literal from the ledger's priority order
# (never-driver-certified first, then oldest driver evidence, then
# opportunistic refresh of the fresh queries with the oldest rows)
# and groups memo-sharing families adjacently (the communities trio,
# the shingle/verified dup-graph family, the BPE pair) so a driver
# session executing the window in order reuses the session memos.
# Current rotation, regenerated on the closing tree of the single-BPE-
# learner change: the 21 queries whose closures it re-staled (the BPE
# entry points, the concurrent cache-fill helper's callers, the
# style-scoring docstrings, session_paths' max_steps check) head the
# window; opportunistic refreshes fill the remaining slots.
_CHECK_WINDOW = [
    "probe_style_consistency",
    "streaming_source_verdict",
    "style_fingerprint",
    "verify_sources",
    "dsir_select",
    "dsir_weights",
    "span_dedup",
    "top_boilerplate_spans",
    "budget_select",
    "collocations",
    "contamination_check",
    "corpus_drift",
    "quality_calibrated",
    "quality_threshold_sweep",
    "source_data_card",
    "streaming_drift",
    "text_stats",
    "watermark_documents",
    "winnow_fingerprints",
    "dedup_minhash_signatures",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_clusters_incremental",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "dedup_threshold_sweep",
    "dedup_decisions",
    "dup_graph_stats",
    "cluster_retention",
    "source_overlap",
    "leakage_safe_splits",
    "curate_corpus",
    "detect_distribution",
    "dli_bigrams_by_source",
    "dli_features_by_source",
    "ngram_novelty",
    "quality_repetition",
    "winnow_pairs",
    "winnow_span_report",
    "effective_corpus_size",
    "paragraph_near_dups",
    "style_count_distribution",
    "style_scores_long",
    "ann_param_sweep",
    "ann_recall_report",
    "audit_consistency_rate",
    "audit_verdict_sources",
    "benchmark_accuracy",
    "benchmark_accuracy_by_class",
    "benchmark_detect",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered for the driver's correctness gate, which checks the FIRST
    50 entries only: the _CHECK_WINDOW queries first (in window order —
    memo-sharing families adjacent so one driver session reuses the
    session memos), then every other registry query in canonical
    registry order. The window literal is regenerated from the evidence
    ledger (`scripts/evidence_ledger.py --rotate`) at the END of each
    round, so the window the driver consumes always reflects the
    closing tree — late edits can no longer orphan their own evidence
    (the r6 failure mode). Entries 51+ keep their green driver rows and
    are re-checked by the local mirror (scripts/check_oracle.py) every
    session."""
    reg = _query_registry()
    out = {q: reg[q] for q in _CHECK_WINDOW}
    for q, fn in reg.items():
        if q not in out:
            out[q] = fn
    return out


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Canonical name -> callable registry: one entry per SURVEY §2
    operator query. Order here is NOT the gate order — queries()
    reorders through _CHECK_WINDOW; keep this list grouped by subject
    for humans and append new queries where they belong."""
    return {
        "quality_threshold_sweep": _quality_threshold_sweep,
        "session_paths": _session_paths,
        "streaming_attribution": _streaming_attribution,
        "streaming_scd2": _streaming_scd2,
        "streaming_sessionize": _streaming_sessionize,
        "vocab_drift": _vocab_drift,
        "winnow_fingerprints": _winnow_fingerprints,
        "winnow_pairs": _winnow_pairs,
        "winnow_span_report": _winnow_span_report,
        "zipf_slope": _zipf_slope,
        "ann_lsh_topk": _ann_lsh_topk,
        "cache_keys": _cache_keys,
        "corpus_stats": _corpus_stats,
        "dedup_simhash": _dedup_simhash,
        "detect_distribution": _detect_distribution,
        "dli_bigrams_by_source": _dli_bigrams,
        "dli_features_by_source": _dli_features,
        "embedding_pairs_exact": _embedding_pairs_exact,
        "fingerprint_diff_buckets": _fingerprint_diff_buckets,
        "lang_distribution": _lang_distribution,
        "llmmap_fingerprints_by_source": _llmmap_fingerprints,
        "q_customers_no_orders": _q_customers_no_orders,
        "q_events_hourly": _q_events_hourly,
        "q_topk_customers": _q_topk_customers,
        "style_count_distribution": _style_count_distribution,
        "style_scores_long": _style_scores_long,
        "media_decode": _media_decode,
        "dedup_jaccard_prefix": _dedup_jaccard_prefix,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_simhash_pairs": _dedup_simhash_pairs,
        "ann_ivf_sq8": _ann_ivf_sq8,
        "ann_sq8_rerank": _ann_sq8_rerank,
        "bpe_merges": _bpe_merges,
        "bpe_segments": _bpe_segments,
        "cluster_retention": _cluster_retention,
        "curate_corpus": _curate_corpus,
        "dedup_clusters": _dedup_clusters,
        "dedup_clusters_incremental": _dedup_clusters_incremental,
        "dedup_containment": _dedup_containment,
        "dedup_incremental": _dedup_incremental,
        "dedup_minhash_pairs": _dedup_minhash_pairs,
        "dedup_minhash_signatures": _dedup_minhash_signatures,
        "dedup_threshold_sweep": _dedup_threshold_sweep,
        "dup_graph_stats": _dup_graph_stats,
        "events_decayed": _events_decayed,
        "knn_triangles": _knn_triangles,
        "leakage_safe_splits": _leakage_safe_splits,
        "pagerank_dupgraph": _pagerank_dupgraph,
        "source_overlap": _source_overlap,
        "vocab_coverage": _vocab_coverage,
        # -- 51+: outside the window; driver-green rows retained and
        # ledger-verified, still mirror-checked every session by
        # scripts/check_oracle.py.
        "hybrid_search": _hybrid_search,
        "cluster_quality": _cluster_quality,
        "effective_corpus_size": _effective_corpus_size,
        "ivf_append": _ivf_append,
        "events_gapfill": _events_gapfill,
        "events_scd2": _events_scd2,
        "epoch_shuffle": _epoch_shuffle,
        "length_outliers": _length_outliers,
        "domain_classify": _domain_classify,
        "interarrival_profile": _interarrival_profile,
        "community_modularity": _community_modularity,
        "community_source_nmi": _community_source_nmi,
        "burstiness_profile": _burstiness_profile,
        "length_quantiles_exact": _length_quantiles_exact,
        "ngram_novelty": _ngram_novelty,
        "k_anonymity": _k_anonymity,
        "channel_attribution": _channel_attribution,
        "heavy_hitters": _heavy_hitters,
        "collocations": _collocations,
        "kmeans_clusters": _kmeans_clusters,
        "dedup_decisions": _dedup_decisions,
        "dedup_recall_report": _dedup_recall_report,
        "dedup_communities": _dedup_communities,
        "dedup_kcore": _dedup_kcore,
        "cluster_topics": _cluster_topics,
        "lateness_profile": _lateness_profile,
        "embedding_coverage": _embedding_coverage,
        "ann_recall_report": _ann_recall_report,
        "bpe_merges64": _bpe_merges64,
        "bpe_fertility64": _bpe_fertility64,
        "ann_param_sweep": _ann_param_sweep,
        "paragraph_near_dups": _paragraph_near_dups,
        "events_ks_drift": _events_ks_drift,
        "events_hourly_anomalies": _events_hourly_anomalies,
        "q2_min_acctbal_supplier": _q2_min_acctbal_supplier,
        "q9_product_profit": _q9_product_profit,
        "q11_important_parts": _q11_important_parts,
        "q16_supplier_count": _q16_supplier_count,
        "q20_dominant_supplier": _q20_dominant_supplier,
        "doc_entropy": _doc_entropy,
        "heaps_vocab_growth": _heaps_vocab_growth,
        "column_profile_lineitem": _column_profile_lineitem,
        "link_prediction_aa": _link_prediction_aa,
        "l_diversity": _l_diversity,
        "dedup_canonical": _dedup_canonical,
        "mixing_plan": _mixing_plan,
        "embedding_norm_outliers": _embedding_norm_outliers,
        "event_transitions": _event_transitions,
        "boilerplate_templates": _boilerplate_templates,
        "feature_correlations": _feature_correlations,
        "weighted_sample_es": _weighted_sample_es,
        "claimed_families": _claimed_families,
        "probe_category_counts": _probe_category_counts,
        "probes_filtered": _probes_filtered,
        "audit_consistency_rate": _audit_consistency_rate,
        "audit_verdict_sources": _audit_verdict_sources,
        "benchmark_accuracy": _benchmark_accuracy,
        "bm25_search": _bm25_search,
        "tfidf_keywords": _tfidf_keywords,
        "corpus_drift": _corpus_drift,
        "streaming_drift": _streaming_drift,
        "memorization_seqmatch": _memorization_seqmatch,
        "embedding_principal": _embedding_principal,
        "q19_disjunctive": _q19_disjunctive,
        "q22_global_threshold": _q22_global_threshold,
        "source_data_card": _source_data_card,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q10_returned_items": _q10_returned_items,
        "q12_ship_delay": _q12_ship_delay,
        "q13_order_distribution": _q13_order_distribution,
        "q14_promo_revenue": _q14_promo_revenue,
        "q15_top_supplier": _q15_top_supplier,
        "q18_large_volume": _q18_large_volume,
        "q21_waiting_supplier": _q21_waiting_supplier,
        "quota_sample": _quota_sample,
        "ann_sq8_topk": _ann_sq8_topk,
        "dsir_weights": _dsir_weights,
        "dsir_select": _dsir_select,
        "q_salted_revenue": _q_salted_revenue,
        "streaming_source_verdict": _streaming_source_verdict,
        "semantic_dedup": _semantic_dedup,
        "q1_pricing_summary": _q1,
        "q3_top_unshipped": _q3,
        "q5_regional_revenue": _q5,
        "q_urgent_customers": _q_urgent_customers,
        "q_window_orders": _q_window_orders,
        "phrase_search": _phrase_search,
        "ann_lsh_multiprobe": _ann_lsh_multiprobe,
        "top_boilerplate_spans": _top_boilerplate_spans,
        "q_events_retention": _q_events_retention,
        "q4_order_priority": _q4_order_priority,
        "q_events_cube": _q_events_cube,
        "length_bucketed_batches": _length_bucketed_batches,
        "ann_pq_topk": _ann_pq_topk,
        "ann_pq_rerank": _ann_pq_rerank,
        "embedding_dim_stats": _embedding_dim_stats,
        "label_separation": _label_separation,
        "mixture_weights": _mixture_weights,
        "q7_volume_shipping": _q7_volume_shipping,
        "snapshot_diff": _snapshot_diff,
        "q8_market_share": _q8_market_share,
        "events_pivot": _events_pivot,
        "zorder_events": _zorder_events,
        "budget_select": _budget_select,
        "knn_graph": _knn_graph,
        "knn_graph_windowed": _knn_graph_windowed,
        "ann_ivf_topk": _ann_ivf_topk,
        "q17_small_quantity": _q17_small_quantity,
        "conversation_transcripts": _conversation_transcripts,
        "q_events_rolling": _q_events_rolling,
        "lang_id_ext": _lang_id_ext,
        "doc_chunks": _doc_chunks,
        "contrastive_triplets": _contrastive_triplets,
        "embedding_contamination": _embedding_contamination,
        "embedding_contamination_windowed": _embedding_contamination_windowed,
        "quality_calibrated": _quality_calibrated,
        "span_dedup": _span_dedup,
        "q_events_funnel": _q_events_funnel,
        "text_stats": _text_stats,
        "watermark_documents": _watermark_documents,
        "doc_fingerprints": _doc_fingerprints,
        "c4_clean": _c4_clean,
        "char_lm_scores": _char_lm_scores,
        "quality_repetition": _quality_repetition,
        "pii_scan": _pii_scan,
        "media_profile": _media_profile,
        "corpus_sample": _corpus_sample,
        "length_percentiles": _length_percentiles,
        "memorization_average": _memorization_average,
        "q_events_asof": _q_events_asof,
        "q_events_range_join": _q_events_range_join,
        "verify_sources": _verify_sources,
        "benchmark_accuracy_by_class": _benchmark_accuracy_by_class,
        "memorization_verbatim": _memorization_verbatim,
        "memorization_levenshtein": _memorization_levenshtein,
        "q_rollup_revenue": _q_rollup_revenue,
        "q_events_sessionize": _q_events_sessionize,
        "probe_style_consistency": _probe_style_consistency,
        "detect_documents": _detect_documents,
        "style_fingerprint": _style_fingerprint,
        "llmmap_features_documents": _llmmap_features_documents,
        "llmmap_compare_sources": _llmmap_compare_sources,
        "llmmap_fingerprint_hashes": _llmmap_fingerprint_hashes,
        "dli_compare_sources": _dli_compare_sources,
        "benchmark_detect": _benchmark_detect,
        "dedup_exact": _dedup_exact,
        "paragraph_dedup": _paragraph_dedup,
        "embedding_near_dups": _embedding_near_dups,
        "events_rollup_cascade": _events_rollup_cascade,
        "pack_chunks": _pack_chunks,
        "similarity_topk": _similarity_topk,
        "cka_labels": _cka_labels,
        "reef_layer_cka": _reef_layer_cka,
        "contamination_check": _contamination_check,
    }


# Twins whose generated SQL references a CTE chain more than once per
# round/stage — DuckDB's default inlining re-evaluates those
# exponentially (DETERMINISM.md failure mode 9); ora.materialized pins
# one evaluation each (equality re-verified per query at adoption:
# identical rows, pagerank 21.3 s -> 0.17 s at sf0.01).
_MATERIALIZED_TWINS = {
    "dedup_minhash_pairs", "dedup_clusters", "dedup_clusters_incremental",
    "cluster_retention", "leakage_safe_splits", "source_overlap",
    "curate_corpus", "dedup_threshold_sweep", "pagerank_dupgraph",
    "dup_graph_stats", "knn_triangles", "dedup_incremental",
    "dedup_containment", "dedup_jaccard_prefix", "dedup_ngram_jaccard",
    "paragraph_near_dups", "kmeans_clusters", "dedup_decisions",
    "cluster_quality", "effective_corpus_size",
    "cluster_topics", "dedup_recall_report", "winnow_fingerprints",
    "winnow_pairs", "dedup_communities", "winnow_span_report",
    "dedup_kcore", "community_modularity", "community_source_nmi",
    # r7: contrastive_triplets rotated into the window, so its twin
    # adopts materialization now (equal rows re-verified by the local
    # mirror; the r7 driver row certifies the new SQL).
    "contrastive_triplets",
    # semantic_dedup / span_dedup / embedding_principal were measured
    # equal-but-barely-faster (<=0.6 s); they are NOT in this round's
    # check window, so their twins stay byte-identical to the SQL
    # their newest driver rows certified (evidence_ledger invariant)
    # — add them when they next rotate in.
}


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_raw()
    return {
        k: (ora.materialized(v) if k in _MATERIALIZED_TWINS else v)
        for k, v in out.items()
    }


def _oracle_sql_raw() -> dict[str, str]:
    return {
        "q1_pricing_summary": ora.q1_pricing_summary(),
        "q3_top_unshipped": ora.q3_top_unshipped(),
        "q5_regional_revenue": ora.q5_regional_revenue(),
        "q_topk_customers": ora.q_topk_customers(),
        "q_customers_no_orders": ora.q_customers_no_orders(),
        "q_urgent_customers": ora.q_urgent_customers(),
        "q_rollup_revenue": ora.q_rollup_revenue(),
        "q_window_orders": ora.q_window_orders(),
        "q_events_hourly": ora.q_events_hourly(),
        "q_events_sessionize": ora.q_events_sessionize(),
        "events_scd2": ora.events_scd2(),
        "epoch_shuffle": ora.epoch_shuffle(),
        "length_outliers": ora.length_outliers(),
        "domain_classify": ora.domain_classify(),
        "streaming_sessionize": ora.streaming_sessionize(),
        "streaming_attribution": ora.streaming_attribution(),
        "ngram_novelty": ora.ngram_novelty(),
        "k_anonymity": ora.k_anonymity(),
        "channel_attribution": ora.channel_attribution(),
        "heavy_hitters": ora.heavy_hitters(),
        "streaming_scd2": ora.events_scd2(),
        "session_paths": ora.session_paths(),
        "collocations": ora.collocations(),
        "kmeans_clusters": ora.kmeans_clusters(),
        "vocab_drift": ora.vocab_drift(),
        "dedup_decisions": ora.dedup_decisions(),
        "cluster_topics": ora.cluster_topics(),
        "lateness_profile": ora.lateness_profile(),
        "embedding_coverage": ora.embedding_coverage(),
        "detect_documents": ora.detect_documents(),
        "style_scores_long": ora.style_scores_long(),
        "style_fingerprint": ora.style_fingerprint(),
        "detect_distribution": ora.detect_distribution(),
        "streaming_source_verdict": ora.streaming_source_verdict(),
        "llmmap_features_documents": ora.llmmap_features_documents(),
        "llmmap_fingerprints_by_source": ora.llmmap_fingerprints_by_source(),
        "llmmap_compare_sources": ora.llmmap_compare_sources(),
        "dli_bigrams_by_source": ora.dli_bigrams_by_source(),
        "dli_features_by_source": ora.dli_features_by_source(),
        "dli_compare_sources": ora.dli_compare_sources(),
        "probes_filtered": ora.probes_filtered(),
        "benchmark_detect": ora.benchmark_detect(),
        "benchmark_accuracy": ora.benchmark_accuracy(),
        "benchmark_accuracy_by_class": ora.benchmark_accuracy_by_class(),
        "audit_verdict_sources": ora.audit_verdict_sources(),
        "verify_sources": ora.verify_sources(),
        "media_profile": ora.media_profile(),
        "media_decode": ora.media_decode(),
        "probe_style_consistency": ora.probe_style_consistency(),
        "audit_consistency_rate": ora.audit_consistency_rate(),
        "style_count_distribution": ora.style_count_distribution(),
        "probe_category_counts": ora.probe_category_counts(),
        "claimed_families": ora.claimed_families(),
        "fingerprint_diff_buckets": ora.fingerprint_diff_buckets(),
        "text_stats": ora.text_stats(),
        "corpus_stats": ora.corpus_stats(),
        "lang_distribution": ora.lang_distribution(),
        "lang_id_ext": ora.lang_id_ext(),
        "doc_chunks": ora.doc_chunks(chunk_chars=500, overlap=50),
        "contrastive_triplets": ora.contrastive_triplets(
            n_neg=2, n_buckets=16
        ),
        "bm25_search": ora.bm25_search("spark join filter", k=20),
        "hybrid_search": ora.hybrid_search(
            "spark join filter", query_vec_id=0, n_cand=50, k=20
        ),
        "cluster_quality": ora.cluster_quality(k=8, iterations=4),
        "effective_corpus_size": ora.effective_corpus_size(),
        "ivf_append": ora.ivf_append_report(n_clusters=8),
        "events_gapfill": ora.events_gapfill(grain_sec=3600),
        "embedding_contamination": ora.embedding_contamination(
            threshold=0.4, n_planes=8, dim=64, eval_mod=5
        ),
        "embedding_contamination_windowed": (
            ora.embedding_contamination_windowed(
                threshold=0.4, n_planes=4, dim=64, eval_mod=5,
                bucket_window=8,
            )
        ),
        "quality_calibrated": ora.quality_calibrated(keep_frac=0.5),
        "span_dedup": ora.span_dedup(span_tokens=20),
        "dsir_weights": ora.dsir_weights(target_source="src0"),
        "cluster_retention": ora.cluster_retention(),
        "source_overlap": ora.source_overlap(min_jaccard=0.5),
        "q_events_funnel": ora.funnel_counts(("view", "click", "purchase")),
        "pagerank_dupgraph": ora.pagerank_dupgraph(
            iterations=3, damping_pct=85, min_jaccard=0.5
        ),
        "watermark_documents": ora.watermark_documents(),
        "doc_fingerprints": ora.doc_fingerprints(),
        "cache_keys": ora.cache_keys(),
        "dedup_exact": ora.dedup_exact(),
        "paragraph_dedup": ora.paragraph_dedup(),
        "budget_select": ora.budget_select(budget_tokens=15000),
        "q_events_rolling": ora.q_events_rolling(),
        "events_rollup_cascade": ora.events_rollup_cascade(),
        "c4_clean": ora.c4_clean(),
        "char_lm_scores": ora.char_lm_scores(),
        "dedup_minhash_signatures": ora.dedup_minhash_signatures(),
        "dedup_minhash_pairs": ora.dedup_minhash_pairs(),
        "dedup_clusters": ora.dedup_clusters(),
        "quality_repetition": ora.quality_repetition(),
        "pii_scan": ora.pii_scan(),
        "pack_chunks": ora.pack_chunks(context_len=256),
        "semantic_dedup": ora.semantic_dedup(threshold=0.4),
        "dedup_ngram_jaccard": ora.dedup_ngram_jaccard(),
        "dedup_recall_report": ora.dedup_recall_report(),
        "winnow_fingerprints": ora.winnow_fingerprints(),
        "winnow_pairs": ora.winnow_pairs(),
        "dedup_communities": ora.dedup_communities(),
        "dedup_kcore": ora.dedup_kcore(),
        "winnow_span_report": ora.winnow_span_report(),
        "contamination_check": ora.contamination_check(shingle_n=5, eval_mod=5),
        "corpus_sample": ora.corpus_sample(),
        "length_percentiles": ora.length_percentiles(),
        "dedup_simhash": ora.dedup_simhash(),
        "dedup_simhash_pairs": ora.dedup_simhash_pairs(),
        "similarity_topk": ora.similarity_topk(),
        "embedding_pairs_exact": ora.embedding_pairs_exact(threshold=0.4),
        "embedding_near_dups": ora.embedding_near_dups(
            threshold=0.4, n_planes=4, dim=64
        ),
        "ann_lsh_topk": ora.ann_lsh_topk(query_vec_id=0, k=10, n_planes=6),
        "knn_graph": ora.knn_graph(
            k=5, n_bands=4, planes_per_band=6, dim=64
        ),
        "knn_graph_windowed": ora.knn_graph_windowed(
            k=5, n_bands=4, planes_per_band=4, dim=64, bucket_window=4
        ),
        "ann_ivf_topk": ora.ann_ivf_topk(
            query_vec_id=0, k=10, n_clusters=8, nprobe=3, dim=64
        ),
        "cka_labels": ora.cka_labels(),
        "reef_layer_cka": ora.reef_layer_cka(),
        "memorization_verbatim": ora.memorization_verbatim(),
        "memorization_average": ora.memorization_average(),
        "memorization_levenshtein": ora.memorization_levenshtein(),
        "llmmap_fingerprint_hashes": ora.llmmap_fingerprint_hashes(),
        "curate_corpus": ora.curate_corpus(min_quality=0.6),
        "q_events_asof": ora.q_events_asof(),
        "q_events_range_join": ora.q_events_range_join(),
        "tfidf_keywords": ora.tfidf_keywords(k=3, min_df=2, max_df_frac=0.8),
        "dedup_incremental": ora.dedup_incremental(min_jaccard=0.5),
        "zorder_events": ora.zorder_events(bits=16),
        "q17_small_quantity": ora.q17_small_quantity(brand="Brand#2"),
        "conversation_transcripts": ora.conversation_transcripts(
            max_turns=200
        ),
        "phrase_search": ora.phrase_search(phrase="table hash"),
        "knn_triangles": ora.knn_triangles(
            k=5, n_bands=4, planes_per_band=6, dim=64
        ),
        "events_pivot": ora.events_pivot(),
        "ann_lsh_multiprobe": ora.ann_lsh_multiprobe_topk(
            query_vec_id=0, k=10, n_planes=6, probe_radius=1, dim=64
        ),
        "dsir_select": ora.dsir_select(
            target_source="src0", keep_frac=0.25
        ),
        "top_boilerplate_spans": ora.top_boilerplate_spans(
            span_tokens=5, k=20
        ),
        "q_events_retention": ora.q_events_retention(),
        "q4_order_priority": ora.q4_order_priority(),
        "q_events_cube": ora.q_events_cube(),
        "length_bucketed_batches": ora.length_bucketed_batches(
            batch_size=16
        ),
        # twin deliberately the FULL inverted-index SQL: hash equality
        # proves prefix filtering drops no qualifying pair
        "dedup_jaccard_prefix": ora.dedup_ngram_jaccard(min_jaccard=0.5),
        "corpus_drift": ora.corpus_drift(target_source="src0"),
        "embedding_dim_stats": ora.embedding_dim_stats(),
        "label_separation": ora.label_separation(),
        "mixture_weights": ora.mixture_weights(alpha=0.7),
        "q7_volume_shipping": ora.q7_volume_shipping(),
        "q_salted_revenue": ora.q_salted_revenue(),
        "snapshot_diff": ora.snapshot_diff(),
        "q8_market_share": ora.q8_market_share(),
        "q6_forecast_revenue": ora.q6_forecast_revenue(),
        "q10_returned_items": ora.q10_returned_items(),
        "q12_ship_delay": ora.q12_ship_delay(),
        "q13_order_distribution": ora.q13_order_distribution(),
        "q14_promo_revenue": ora.q14_promo_revenue(),
        "q15_top_supplier": ora.q15_top_supplier(),
        "q18_large_volume": ora.q18_large_volume(),
        "q21_waiting_supplier": ora.q21_waiting_supplier(),
        "q2_min_acctbal_supplier": ora.q2_min_acctbal_supplier(),
        "q9_product_profit": ora.q9_product_profit(),
        "q11_important_parts": ora.q11_important_parts(),
        "q16_supplier_count": ora.q16_supplier_count(),
        "q20_dominant_supplier": ora.q20_dominant_supplier(),
        "link_prediction_aa": ora.link_prediction_aa(
            max_degree=1000, top_k=100
        ),
        "l_diversity": ora.l_diversity(l=3),
        "dedup_canonical": ora.dedup_canonical(),
        "event_transitions": ora.event_transitions(gap_seconds=1800),
        "boilerplate_templates": ora.boilerplate_templates(
            top_k=3, min_count=2
        ),
        "feature_correlations": ora.feature_correlations(),
        "interarrival_profile": ora.interarrival_profile(),
        "community_modularity": ora.community_modularity(rounds=4),
        "community_source_nmi": ora.community_source_nmi(rounds=4),
        "length_quantiles_exact": ora.length_quantiles_exact(),
        "burstiness_profile": ora.burstiness_profile(),
        "mixing_plan": ora.mixing_plan(
            budget_tokens=10_000_000, alpha=0.7
        ),
        "embedding_norm_outliers": ora.embedding_norm_outliers(k_sigma=3),
        "doc_entropy": ora.doc_entropy(),
        "heaps_vocab_growth": ora.heaps_vocab_growth(n_checkpoints=10),
        "zipf_slope": ora.zipf_slope(max_rank=100),
        "column_profile_lineitem": ora.column_profile_lineitem(),
        "dedup_containment": ora.dedup_containment(min_containment=0.6),
        "quota_sample": ora.quota_sample(),
        "vocab_coverage": ora.vocab_coverage(vocab_size=500),
        "weighted_sample_es": ora.weighted_sample_es(k=50, salt="es1"),
        "bpe_merges": ora.bpe_merges(n_merges=8),
        "bpe_segments": ora.bpe_vocab_segments(n_merges=8, top_k=200),
        "bpe_merges64": ora.bpe_merges(n_merges=64),
        "bpe_fertility64": ora.bpe_fertility(n_merges=64),
        "ann_param_sweep": ora.ann_param_sweep(query_vec_id=0, k=10),
        "paragraph_near_dups": ora.paragraph_near_dups(min_jaccard=0.5),
        "quality_threshold_sweep": ora.quality_threshold_sweep(),
        "events_ks_drift": ora.ks_purchase_vs_view(),
        "events_hourly_anomalies": ora.events_hourly_anomalies(),
        "events_decayed": ora.decayed_counts(),
        "ann_sq8_topk": ora.sq8_topk(query_vec_id=0, k=10),
        "ann_sq8_rerank": ora.sq8_rerank_topk(query_vec_id=0, k=10, shortlist=50),
        "ann_ivf_sq8": ora.ivf_sq8_topk(query_vec_id=0, k=10, n_clusters=8, nprobe=3),
        "ann_recall_report": ora.ann_recall_report(query_vec_id=0, k=10),
        "source_data_card": ora.source_data_card(),
        "leakage_safe_splits": ora.leakage_safe_splits(),
        "dedup_threshold_sweep": ora.dedup_threshold_sweep(),
        "streaming_drift": ora.corpus_drift(target_source="src0"),
        "dedup_clusters_incremental": ora.dedup_clusters(),
        "q19_disjunctive": ora.q19_disjunctive(),
        "q22_global_threshold": ora.q22_global_threshold(),
        "dup_graph_stats": ora.dup_graph_stats(),
        "embedding_principal": ora.embedding_principal(),
        "ann_pq_topk": ora.pq_topk(
            query_vec_id=0, k=10, m=8, kc=16, dim=64
        ),
        "ann_pq_rerank": ora.pq_rerank_topk(
            query_vec_id=0, k=10, shortlist=50, m=8, kc=16, dim=64
        ),
        # difflib SequenceMatcher as a recursive-CTE SQL twin (r4): the
        # formerly rows-only kernel is now hash-checked — every query in
        # queries() is oracle-backed.
        "memorization_seqmatch": ora.memorization_seqmatch(),
        # (previous note, retired r4): memorization_seqmatch (difflib
        # SequenceMatcher kernel; its levenshtein scale twin IS checked).
    }
