"""Structured Streaming extension (SURVEY.md §2.10 — beyond the reference's
batch-only surface, reusing the identical batch expressions).

The whole feature/scoring layer is pure Column expressions, so streaming
detect is the SAME projection applied to a readStream relation:

- streaming_detect: per-event family detection (append mode, no state).
- windowed_detection_counts: tumbling event-time windows + watermark over
  (window, predicted_model) — the streaming form of A5's source
  distribution. Late data beyond the watermark is dropped by Spark.
- detect_stream_from_files: file-source convenience (new parquet/json files
  in a directory become micro-batches) — at scale swap for Kafka with the
  same downstream plan.
- running_source_verdict: CUSTOM STATEFUL operator (applyInPandasWithState,
  §2.11 row 1's stateful sibling) — per-source running audit verdict
  maintained across micro-batches. streaming_scd2 is the second custom
  stateful operator: SCD2 run compaction with one open run per key. The 12-family scoring argmax stays
  JVM-side (the same detection_columns projection as batch detect); the
  Python state function folds only three small numbers per row, so state
  is O(#sources × #families) regardless of stream volume.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from model_audit_spark.catalogs import STYLE_SIGNATURES
from model_audit_spark.functions.text import text_preview
from model_audit_spark.operators.detect import detection_columns, flag_base


def streaming_detect(
    stream: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stateless per-row detection — append-mode safe (pure projection;
    two chained narrow selects via flag_base, keeping codegen on)."""
    base, refs = flag_base(
        stream, text_col,
        [
            F.col(id_col),
            *([F.col("ts")] if "ts" in stream.columns else []),
            text_preview(text_col).alias("text_preview"),
        ],
    )
    cols = detection_columns(refs)
    return base.select(
        F.col(id_col),
        *([F.col("ts")] if "ts" in stream.columns else []),
        "text_preview",
        cols["predicted_model"].alias("predicted_model"),
        cols["confidence"].alias("confidence"),
    )


def windowed_detection_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Tumbling-window counts per predicted family with late-data bound."""
    base, refs = flag_base(stream, text_col, [F.col(ts_col).alias("ts")])
    cols = detection_columns(refs)
    detected = base.select(
        "ts",
        cols["predicted_model"].alias("predicted_model"),
    )
    return (
        detected.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "predicted_model")
        .agg(F.count("*").alias("n_texts"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "predicted_model",
            "n_texts",
        )
    )


_FAMILIES: list[str] = [fam for fam, *_ in STYLE_SIGNATURES]
_RANK: dict[str, int] = {fam: i for i, fam in enumerate(_FAMILIES)}

VERDICT_OUTPUT_SCHEMA = (
    "source STRING, n_texts BIGINT, predicted_model STRING, "
    "consistency_rate DOUBLE, mean_confidence DOUBLE"
)
_VERDICT_STATE_SCHEMA = "n BIGINT, counts ARRAY<BIGINT>, sum_conf DOUBLE"


def running_source_verdict(
    stream: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source RUNNING verdict across micro-batches (update mode).

    Streaming form of the batch audit verdict (A5+A7+A9 folded): for each
    source, the majority predicted family so far (catalog-order ties, as
    batch argmax), the consistency rate (share of texts agreeing with the
    majority), and mean confidence. Per-row family scoring runs in the
    stateless JVM projection BEFORE the stateful step; state per source is
    (n, 12 counts, score sum) — constant-size, so a 100 TB/day stream
    holds state proportional to the number of distinct sources only.
    """
    base, refs = flag_base(
        stream, text_col, [F.col(source_col).alias("source")]
    )
    cols = detection_columns(refs)
    scored = base.select(
        "source",
        cols["predicted_model"].alias("predicted_model"),
        cols["confidence"].alias("confidence"),
    )

    def _fold(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, counts, sum_conf = state.get
            counts = list(counts)
        else:
            n, counts, sum_conf = 0, [0] * len(_FAMILIES), 0.0
        for pdf in pdfs:
            n += len(pdf)
            sum_conf += float(pdf["confidence"].sum())
            for fam, cnt in pdf["predicted_model"].value_counts().items():
                counts[_RANK[fam]] += int(cnt)
        state.update((n, counts, sum_conf))
        top = max(range(len(counts)), key=lambda i: (counts[i], -i))
        yield pd.DataFrame(
            [
                {
                    "source": key[0],
                    "n_texts": n,
                    "predicted_model": _FAMILIES[top],
                    "consistency_rate": (
                        round(counts[top] / n * 100.0, 2) if n else 0.0
                    ),
                    "mean_confidence": (
                        round(sum_conf / n, 4) if n else 0.0
                    ),
                }
            ]
        )

    return scored.groupBy("source").applyInPandasWithState(
        _fold,
        VERDICT_OUTPUT_SCHEMA,
        _VERDICT_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    within: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST arrival of each text
    hash; re-arrivals inside the watermark horizon are dropped.

    State holds one md5 per distinct text seen within `within` and is
    EVICTED as the watermark passes (dropDuplicatesWithinWatermark) — the
    state bound every unbounded-stream dedup needs; a plain
    dropDuplicates would grow state forever on a 100 TB/day stream. The
    hash projection runs before the stateful op, so state rows are
    (md5, window meta), never the document text."""
    hashed = stream.select(
        F.col(id_col),
        F.col(ts_col).alias("ts"),
        F.md5(F.col(text_col)).alias("text_hash"),
    )
    return hashed.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def streaming_near_dup_candidates(
    stream: DataFrame,
    index_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    within: str = "10 minutes",
) -> DataFrame:
    """Streaming near-dup FLAGGING against a persisted LSH index: each
    arriving doc is signed per-row (minhash_signatures — a pure
    projection, legal in streaming), its band hashes stream-static join
    the index built by dedup.minhash_index_write, and the first match per
    doc is emitted as (id, ts, matched index doc, band).

    This closes the gap noted on streaming_curate: with the corpus index
    PERSISTED, the "corpus-wide band join" objection disappears — the
    stream side carries only (id, ts, band, bh) and the static side is
    the index relation, re-read per micro-batch (refresh the index path
    as batch compaction appends to it). State is bounded exactly like
    streaming_exact_dedup: dropDuplicatesWithinWatermark on the doc id
    holds one row per flagged doc inside the watermark horizon.

    Candidates only — exact Jaccard verification stays in the periodic
    batch pass (incremental_dedup_pairs), which is also where
    batch-internal pairs are found."""
    from model_audit_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        stream,
        text_col,
        id_col,
        num_hashes,
        shingle_n,
        keep_cols=(ts_col,),
    )
    banded = lsh_band_rows(
        sigs, id_col, num_hashes, bands, keep_cols=(ts_col,)
    ).withColumnRenamed(ts_col, "ts")
    idx = index_bands.select(
        F.col(id_col).alias("id_idx"), "band", "bh"
    )
    matched = banded.join(idx, ["band", "bh"]).filter(
        F.col(id_col) != F.col("id_idx")
    )
    return (
        matched.withWatermark("ts", within)
        .dropDuplicatesWithinWatermark([id_col])
        .select(id_col, "ts", "id_idx", "band")
    )


def streaming_curate(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    within: str = "10 minutes",
) -> DataFrame:
    """Streaming ingest form of curate_corpus: stateless lang/quality
    gating (pure projection — same fused with_doc_stats expressions as batch)
    then watermark-bounded exact dedup. Emits the kept documents only.

    The near-dup stage here stays batch (curate_corpus as periodic
    compaction); when a persisted LSH index exists,
    streaming_near_dup_candidates flags probable near-dups in-flight
    against it (candidates only — exact verification stays batch)."""
    from model_audit_spark.operators.text_analysis import with_doc_stats

    gated = with_doc_stats(
        stream.select(
            F.col(id_col), F.col(ts_col).alias("ts"), F.col(text_col)
        ),
        text_col,
        names=["quality_score", "lang_pred"],
    ).filter(
        F.col("lang_pred").isin(list(langs))
        & (F.col("quality_score") >= min_quality)
    )
    hashed = gated.withColumn("text_hash", F.md5(F.col(text_col)))
    return (
        hashed.withWatermark("ts", within)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select(id_col, "ts", text_col, "lang_pred", "quality_score")
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_delay: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events of the same key arriving within (l_ts, l_ts + max_delay] —
    the streaming form of asof.range_join (e.g. view→click attribution
    with both sides live).

    Both sides carry a watermark and the join condition bounds r_ts
    relative to l_ts, so Spark derives state-eviction watermarks for
    BOTH buffers: each side holds only rows inside the watermark horizon
    (state O(rate × horizon), not O(stream)). Without the time-range
    predicate a stream-stream inner join would buffer forever — the
    bound IS the state contract."""
    li = left.withWatermark(left_ts, watermark)
    ri = right.withWatermark(right_ts, watermark)
    cond = (
        (li[key_col] == ri[key_col])
        & (ri[right_ts] > li[left_ts])
        & (ri[right_ts] <= li[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return li.join(ri, cond, "inner").select(
        li[key_col].alias(key_col),
        li[left_ts].alias(left_ts),
        ri[right_ts].alias(right_ts),
    )


def streaming_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    within: str = "1 hour",
) -> DataFrame:
    """Watermarked session-window aggregation (native F.session_window):
    per (user, session) → n_events, session bounds, value sum. State per
    key is one open session window, closed and emitted once the
    watermark passes its end — the streaming form of
    q_events_sessionize's gap sessionization.

    Boundary semantics note: session_window merges an event into the
    open session when its gap is STRICTLY LESS than `gap` at full
    timestamp precision; the batch lag-based twin starts a new session
    when the floored-second diff EXCEEDS the gap. Events landing exactly
    on the gap boundary differ — the same operator run in batch mode is
    the exact twin (pinned in test_streaming)."""
    return (
        stream.withWatermark(ts_col, within)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact-domain sum (DETERMINISM.md failure mode 1): decimal
            # internally, DOUBLE at emit — hash-stable across partition
            # orders and engines
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            user_col,
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "sum_value",
        )
    )


def stream_upsert_sink(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint: str,
    partition_col: str | None = None,
    **trigger_kwargs,
):
    """foreachBatch sink that UPSERTS each micro-batch into a parquet
    directory by key (sources/maintenance.upsert_parquet) — the CDC-ish
    landing pattern plain parquet sinks cannot express (append-only
    sinks accumulate superseded rows; this keeps exactly the latest row
    per key). Late/duplicate events across batches converge because
    each batch replaces its keys.

    Per-batch cost is one anti-join + rewrite of the touched partitions
    (pass partition_col for partition-scoped rewrites); batch 0 against
    an empty directory bootstraps with a plain write. Returns the
    started StreamingQuery."""
    from model_audit_spark.sources.maintenance import upsert_parquet

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # collapse within-batch duplicates to the last row per key
        # deterministically (max by struct of all non-key cols is
        # arbitrary; use monotonically-last via max of a struct with
        # batch-local order is not stable — require caller-side
        # uniqueness instead, drop exact duplicate rows only)
        batch_df = batch_df.dropDuplicates(key_cols)
        spark = batch_df.sparkSession
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            writer = batch_df.write
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(path)
            return
        upsert_parquet(spark, path, batch_df, key_cols, partition_col)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger_kwargs or {"availableNow": True}))
        .start()
    )


def detect_stream_from_files(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    stream = (
        spark.readStream.format(fmt).schema(schema).load(path)
    )
    return streaming_detect(stream, text_col, id_col)


def streaming_rollup_minute(
    stream: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming leg of the hypertable cascade: the minute grain as a
    watermarked tumbling-window aggregate. Append-mode output lands in
    the same (bucket, keys, n_events, total_value) relation that
    rollup.rollup_cascade derives coarser grains from — so the batch
    cascade doubles as the periodic compaction over this sink, and a
    late row beyond the watermark is the only divergence from batch
    (bounded, by design).

    State is O(open windows × keys): one minute window per key closes as
    the watermark passes it. Sums are DECIMAL(18,6) — exact, so the
    closed-window rows equal the batch minute rollup bit for bit.
    """
    if key_cols is None:
        key_cols = ["event_type"]
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, "1 minute").alias("win"), *key_cols
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_sv"),
        )
    )
    return agg.select(
        F.col("win.start").alias("bucket"),
        *key_cols,
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("_sv").cast("double").alias("total_value"),
    )


def streaming_bucket_counts(
    stream: DataFrame,
    feature_buckets: dict,
) -> DataFrame:
    """RUNNING (feature, bucket, n) histogram over a document stream —
    the streaming half of the PSI drift monitor.

    Same explode → count aggregate as drift.bucket_counts; state is one
    counter per (feature, bucket) (bounded by the FIXED bucketing, not
    the stream), so complete-mode output stays report-sized forever.
    Join the sink table against a static baseline histogram with
    drift.psi_from_counts to get a live PSI after every micro-batch.

    This IS drift.bucket_counts — the pipeline is a narrow projection +
    count aggregate, equally valid on a streaming DataFrame, so one
    implementation serves both and the batch==stream hash equality can
    never drift apart."""
    from model_audit_spark.operators.drift import bucket_counts

    return bucket_counts(stream, feature_buckets)


def streaming_ann_probe(
    stream_queries,
    index_path: str,
    sink_fn,
    checkpoint: str,
    k: int = 10,
    nprobe: int = 3,
    qid_col: str = "query_id",
    **trigger_kwargs,
):
    """Streaming retrieval against the persisted IVF+SQ8 index: a
    stream of (query_id, qv ARRAY<DOUBLE>) rows is probed per
    micro-batch with the batched index kernel
    (similarity.ivf_sq8_index_probe_many) and each batch's (query_id,
    vec_id, approx_dot) top-k goes to `sink_fn(result_df, batch_id)`.

    foreachBatch is the right shape here — per-query top-k needs a
    window rank, which Structured Streaming cannot run incrementally;
    the micro-batch IS the natural request batch of a retrieval
    service, and inside it the full batch plan (broadcast cells, DPP
    codes scan) applies unchanged. The index is re-read per batch by
    path — a concurrently re-written index (ivf_sq8_index_write) is
    picked up on the next batch, the same contract as the LSH
    stream-static probe. Returns the started StreamingQuery."""
    from model_audit_spark.operators.similarity import (
        ivf_sq8_index_probe_many,
    )

    def _apply(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        out = ivf_sq8_index_probe_many(
            spark, index_path, batch_df, k=k, nprobe=nprobe,
            qid_col=qid_col,
        )
        sink_fn(out, batch_id)

    return (
        stream_queries.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger_kwargs or {"availableNow": True}))
        .start()
    )


SCD2_OUTPUT_SCHEMA = (
    "user_id BIGINT, version BIGINT, event_type STRING, "
    "valid_from STRING, valid_to STRING, n_events BIGINT, "
    "is_current BOOLEAN"
)
_SCD2_STATE_SCHEMA = (
    "cur_attr STRING, run_start_us BIGINT, last_ts_us BIGINT, "
    "run_n BIGINT, version BIGINT"
)


def streaming_scd2(
    stream: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming form of cdc.scd2_history: type-2 run compaction as a
    CUSTOM STATEFUL operator (applyInPandasWithState, update mode).

    State per key is ONE open run — (attr, run_start_us, last_ts_us,
    n, version), constant-size regardless of stream length. Each
    micro-batch folds its rows in (ts, order) order: an attribute
    change CLOSES the open run (emitted once, with valid_to) and opens
    the next; the open run is re-emitted every batch with is_current
    (update semantics — the sink's last row per (key, version) wins,
    so a later batch closing the run supersedes the open snapshot).

    Ordering contract: rows are sorted within each batch, so the
    operator equals the batch scd2_history whenever arrivals are
    in-order per key across batches (pinned for the single-batch
    availableNow case in test_streaming); cross-batch late data would
    need a watermark-buffered variant.
    """
    from datetime import datetime, timezone

    def _fmt(us: int) -> str:
        return datetime.fromtimestamp(
            us / 1_000_000, tz=timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S")

    def _fold(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cur, start_us, last_us, n, ver = state.get
        else:
            cur, start_us, last_us, n, ver = None, 0, 0, 0, 0
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values([ts_col, order_col])
            ts_us = (
                pdf[ts_col].astype("int64") // 1000
                if pdf[ts_col].dtype.kind == "M"
                else pdf[ts_col].astype("int64")
            )
            for attr, us in zip(pdf[attr_col].fillna(""), ts_us):
                attr = str(attr)
                if cur is None:
                    cur, start_us, n, ver = attr, int(us), 0, ver + 1
                elif attr != cur:
                    out.append(
                        (key[0], ver, cur, _fmt(start_us), _fmt(int(us)),
                         n, False)
                    )
                    cur, start_us, n = attr, int(us), 0
                    ver += 1
                n += 1
                last_us = int(us)
        if cur is not None:
            state.update((cur, start_us, last_us, n, ver))
            out.append(
                (key[0], ver, cur, _fmt(start_us), None, n, True)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "version", "event_type", "valid_from",
                    "valid_to", "n_events", "is_current",
                ],
            )

    return stream.select(key_col, ts_col, order_col, attr_col).groupBy(
        key_col
    ).applyInPandasWithState(
        _fold,
        SCD2_OUTPUT_SCHEMA,
        _SCD2_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
