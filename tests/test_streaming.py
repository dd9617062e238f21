"""Structured Streaming detect tests — file source, availableNow trigger,
memory sink; asserts streaming output equals the batch expression output."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from model_audit_spark.operators.detect import detect
from model_audit_spark.streaming import (
    detect_stream_from_files,
    streaming_detect,
    windowed_detection_counts,
)

SCHEMA = "doc_id BIGINT, ts TIMESTAMP, text STRING"


@pytest.fixture()
def doc_dir(spark, tmp_path):
    rows = [
        (1, "2026-01-01 00:00:10", "Certainly! Here's a comprehensive "
         "breakdown. It's important to note the following."),
        (2, "2026-01-01 00:00:40", "你好！这是一个测试文本。"),
        (3, "2026-01-01 00:01:20", "I cannot help with that request."),
        (4, "2026-01-01 00:01:30", "Certainly! Here's another breakdown "
         "with 1) lists 2) structure. Let me know if you'd like more."),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, ts STRING, text STRING")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(path)
    return path


def test_streaming_detect_matches_batch(spark, doc_dir, tmp_path):
    stream = detect_stream_from_files(spark, doc_dir, SCHEMA)
    q = (
        stream.writeStream.format("memory")
        .queryName("det_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.predicted_model, r.confidence)
        for r in spark.sql("select * from det_stream").collect()
    }
    batch = spark.read.parquet(doc_dir)
    expected = {
        r.doc_id: (r.predicted_model, r.confidence)
        for r in detect(batch, spark, "text", "doc_id").collect()
    }
    assert got == expected and len(got) == 4


def test_events_fixture_streams_windowed_values(spark, tmp_path):
    """Stream the driver's events table (nanos ts read as long) through a
    watermarked tumbling-window aggregate; totals must equal batch."""
    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # file-source streams read directories; stage the fixture file in one
    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        src_dir / "part-0.parquet",
    )
    src = str(src_dir)
    from model_audit_spark.sources.readers import normalize_event_ts

    batch = normalize_event_ts(spark.read.parquet(src))
    schema = batch.schema
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ev"))
        .start()
    )
    q.awaitTermination(120)
    streamed_total = spark.sql("select sum(n) as n from ev_windows").first().n
    assert streamed_total == batch.count()


def test_windowed_counts(spark, doc_dir, tmp_path):
    stream = spark.readStream.format("parquet").schema(SCHEMA).load(doc_dir)
    windowed = windowed_detection_counts(stream, "ts", "1 minute")
    q = (
        windowed.writeStream.format("memory")
        .queryName("det_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from det_windows order by window_start, predicted_model"
    ).collect()
    # append mode only emits windows the watermark has passed; with
    # availableNow the final watermark closes the first window at least
    assert all(r.n_texts >= 1 for r in rows)
    total_batch = (
        streaming_detect(spark.read.parquet(doc_dir), "text", "doc_id")
        .groupBy("predicted_model")
        .count()
        .count()
    )
    assert total_batch >= 1


def test_running_source_verdict_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState verdict: state must carry across micro-batches
    (maxFilesPerTrigger=1 -> one batch per file) and the final emitted row
    per source must equal the batch expression layer over the union."""
    from collections import Counter

    from model_audit_spark.streaming import running_source_verdict

    batch1 = [
        ("src_a", "Certainly! Here's a comprehensive breakdown. It's "
         "important to note the following points for you."),
        ("src_a", "I'd be happy to help. Let me think through this "
         "nuanced question and note different perspectives."),
        ("src_b", "好的，我来为您详细介绍。具体来说，这个实现的时间复杂度是线性的。"),
    ]
    batch2 = [
        ("src_a", "Certainly! Here's another breakdown. Let me know if "
         "you'd like me to go in more detail."),
        ("src_b", "嗯，让我仔细想想。从多个角度看，本质上是状态转移方程的边界条件问题。"),
    ]
    in_dir = tmp_path / "verdict_in"
    in_dir.mkdir()
    schema = "source STRING, text STRING"
    for i, rows in enumerate([batch1, batch2]):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "source": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        )
        pq.write_table(tbl, in_dir / f"batch{i}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        running_source_verdict(stream)
        .writeStream.format("memory")
        .queryName("verdicts")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_verdict"))
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("select * from verdicts").collect()
    # both sources appear in both files -> 2 emissions each
    assert len(emitted) == 4
    final = {}
    for r in emitted:
        if r.source not in final or r.n_texts > final[r.source].n_texts:
            final[r.source] = r

    # batch-side expectation from the same expression layer
    from model_audit_spark.operators.detect import (
        detection_columns,
        flag_base,
    )

    union, refs = flag_base(
        spark.read.parquet(str(in_dir)), "text", [F.col("source")]
    )
    cols = detection_columns(refs)
    per_row = union.select(
        "source",
        cols["predicted_model"].alias("pred"),
        cols["confidence"].alias("conf"),
    ).collect()
    from model_audit_spark.streaming import _RANK

    for src in ("src_a", "src_b"):
        rows = [r for r in per_row if r.source == src]
        counts = Counter(r.pred for r in rows)
        # same tie rule as the operator: max count, catalog order first
        top = max(counts.items(), key=lambda kv: (kv[1], -_RANK[kv[0]]))
        f = final[src]
        assert f.n_texts == len(rows)
        assert f.predicted_model == top[0]
        assert f.consistency_rate == round(top[1] / len(rows) * 100.0, 2)
        assert f.mean_confidence == round(
            sum(r.conf for r in rows) / len(rows), 4
        )


def test_streaming_exact_dedup_drops_rearrivals(spark, tmp_path):
    """First arrival of each text survives; an exact re-arrival in a later
    micro-batch inside the watermark horizon is dropped."""
    from model_audit_spark.streaming import streaming_exact_dedup

    d = tmp_path / "stream_in"
    d.mkdir()
    rows1 = [(1, "2026-01-01 00:00:10", "alpha text"),
             (2, "2026-01-01 00:00:20", "beta text")]
    rows2 = [(3, "2026-01-01 00:00:30", "alpha text"),   # dup of 1
             (4, "2026-01-01 00:00:40", "gamma text")]

    def write(rows, name):
        df = spark.createDataFrame(
            rows, "doc_id BIGINT, ts STRING, text STRING"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(str(tmp_path / name))

    write(rows1, "b1")
    write(rows2, "b2")
    import shutil, glob
    for i, b in enumerate(("b1", "b2")):
        for f in glob.glob(str(tmp_path / b / "*.parquet")):
            shutil.copy(f, d / f"{i}.parquet")

    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(d))
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.doc_id for r in spark.sql("select * from dedup_stream").collect()
    )
    # exactly one of the two "alpha text" arrivals survives (which one
    # depends on file mtime ordering at copy granularity); the uniques
    # always pass through
    assert len(got) == 3
    assert 2 in got and 4 in got
    assert len({1, 3} & set(got)) == 1


def test_streaming_curate_filters_and_dedups(spark, tmp_path):
    """Lang + quality gate runs statelessly; the kept stream carries no
    dup text; output equals the batch curate verdict for the stateless
    stages (lang/quality/exact)."""
    from model_audit_spark.streaming import streaming_curate

    good = ("The quick brown fox jumps over the lazy dog and then walks "
            "through the quiet forest while the evening light settles over "
            "the hills and the river keeps moving toward the distant sea "
            "with a steady calm that carries every small sound for miles.")
    rows = [
        (1, "2026-01-01 00:00:10", good),
        (2, "2026-01-01 00:00:20", good),              # exact dup
        (3, "2026-01-01 00:00:30", "好的，以下是详细的说明，" * 20),  # lang
        (4, "2026-01-01 00:00:40", "!!!! ???? ;;;;"),   # quality
    ]
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, ts STRING, text STRING"
    ).withColumn("ts", F.to_timestamp("ts"))
    d = tmp_path / "curate_in"
    d.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
    import glob, shutil
    for f in glob.glob(str(tmp_path / "w" / "*.parquet")):
        shutil.copy(f, d / "0.parquet")

    stream = spark.readStream.schema(SCHEMA).parquet(str(d))
    q = (
        streaming_curate(stream, min_quality=0.3)
        .writeStream.format("memory")
        .queryName("curate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_curate"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from curate_stream").collect()
    assert len(out) == 1 and out[0].doc_id in (1, 2)
    assert out[0].lang_pred == "en"


def test_streaming_near_dup_candidates_match_batch_probe(spark, tmp_path):
    """Stream new docs against a persisted LSH index: the flagged doc set
    must equal the batch band-join candidates, one row per flagged doc."""
    from model_audit_spark.operators.dedup import (
        lsh_band_rows,
        minhash_index_read,
        minhash_index_write,
        minhash_signatures,
    )
    from model_audit_spark.streaming import streaming_near_dup_candidates

    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog again and again"),
            (101, "completely different content about distributed query engines"),
            (102, "yet another unrelated indexed document with its own words"),
        ],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, idx_path)

    rows = [
        (1, "2026-01-01 00:00:10",
         "the quick brown fox jumps over the lazy dog again and again"),
        (2, "2026-01-01 00:00:40",
         "completely different content about distributed query engines"),
        (3, "2026-01-01 00:01:20", "fresh text matching no indexed doc at all"),
    ]
    batch = spark.createDataFrame(
        rows, "doc_id long, ts string, text string"
    ).withColumn("ts", F.to_timestamp("ts"))
    doc_path = str(tmp_path / "stream_docs")
    batch.coalesce(1).write.parquet(doc_path)

    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .load(doc_path)
    )
    out = streaming_near_dup_candidates(
        stream, minhash_index_read(spark, idx_path)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("near_dup_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from near_dup_stream").collect()
    # one row per flagged doc, pointing at a real index member
    assert sorted(r.doc_id for r in got) == [1, 2]
    assert {r.doc_id: r.id_idx for r in got} == {1: 100, 2: 101}

    # equality with the batch probe's candidate relation
    batch_cand = (
        lsh_band_rows(minhash_signatures(batch.select("doc_id", "text")))
        .join(
            minhash_index_read(spark, idx_path).withColumnRenamed(
                "doc_id", "id_idx"
            ),
            ["band", "bh"],
        )
        .select("doc_id")
        .distinct()
    )
    assert sorted(r.doc_id for r in batch_cand.collect()) == [1, 2]


def test_streaming_sessionize_matches_batch_session_window(spark, tmp_path):
    """Session windows over the driver's events fixture: the streaming
    result (availableNow, watermark past all data) must equal the same
    session_window aggregate run in batch mode."""
    import shutil

    from model_audit_spark.sources.readers import normalize_event_ts
    from model_audit_spark.streaming import streaming_sessionize

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir = tmp_path / "events_sess"
    src_dir.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet"
    )
    src = str(src_dir)
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    out = streaming_sessionize(stream, gap="30 minutes", within="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("select * from sess_stream").collect()
    }
    batch = normalize_event_ts(spark.read.parquet(src))
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in streaming_sessionize(
            batch, gap="30 minutes", within="1 hour"
        ).collect()
    }
    assert got == expected and len(got) > 0
    # every event landed in exactly one session
    assert sum(t[3] for t in got) == batch.count()


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (views × clicks within 10 min) must
    equal the same join run in batch; both sides are live streams with
    bounded state via watermark + time-range condition."""
    from model_audit_spark.streaming import streaming_interval_join

    views = [
        (1, "2026-01-01 00:00:00"),
        (1, "2026-01-01 01:00:00"),
        (2, "2026-01-01 00:05:00"),
    ]
    clicks = [
        (1, "2026-01-01 00:04:00"),   # joins view@00:00
        (1, "2026-01-01 00:20:00"),   # outside 10 min of any view
        (1, "2026-01-01 01:09:59"),   # joins view@01:00
        (2, "2026-01-01 00:05:00"),   # NOT > l_ts (strict)
        (2, "2026-01-01 00:15:00"),   # joins view@00:05
    ]
    vdf = spark.createDataFrame(views, "user_id long, l_ts string").withColumn(
        "l_ts", F.to_timestamp("l_ts")
    )
    cdf = spark.createDataFrame(clicks, "user_id long, r_ts string").withColumn(
        "r_ts", F.to_timestamp("r_ts")
    )
    vpath, cpath = str(tmp_path / "views"), str(tmp_path / "clicks")
    vdf.coalesce(1).write.parquet(vpath)
    cdf.coalesce(1).write.parquet(cpath)

    vs = spark.readStream.schema("user_id LONG, l_ts TIMESTAMP").parquet(vpath)
    cs = spark.readStream.schema("user_id LONG, r_ts TIMESTAMP").parquet(cpath)
    out = streaming_interval_join(vs, cs)
    q = (
        out.writeStream.format("memory")
        .queryName("ij_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.l_ts), str(r.r_ts))
        for r in spark.sql("select * from ij_stream").collect()
    }
    batch = {
        (r.user_id, str(r.l_ts), str(r.r_ts))
        for r in streaming_interval_join(vdf, cdf).collect()
    }
    assert got == batch
    assert got == {
        (1, "2026-01-01 00:00:00", "2026-01-01 00:04:00"),
        (1, "2026-01-01 01:00:00", "2026-01-01 01:09:59"),
        (2, "2026-01-01 00:05:00", "2026-01-01 00:15:00"),
    }


def test_streaming_bucket_counts_match_batch_histogram(spark, tmp_path):
    """The running drift histogram's final state equals the batch
    bucket_counts over the same files — the property that makes the
    streamed PSI hash-match the all-batch oracle."""
    from model_audit_spark.operators.drift import bucket_counts
    from model_audit_spark.streaming import streaming_bucket_counts

    rows = [(i, "x" * (i % 5 * 100)) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    path = str(tmp_path / "drift_docs")
    # two files -> at least two micro-batch splits are possible
    df.repartition(2).write.parquet(path)

    buckets = {"len": F.floor(F.length("text") / 100)}
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(path)
    )
    q = (
        streaming_bucket_counts(stream, buckets)
        .writeStream.format("memory")
        .queryName("drift_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.feature, r.bucket): r.n
        for r in spark.table("drift_counts").collect()
    }
    want = {
        (r.feature, r.bucket): r.n
        for r in bucket_counts(spark.read.parquet(path), buckets).collect()
    }
    assert got == want and sum(got.values()) == 50


def test_streaming_ann_probe_equals_batch(spark, tmp_path):
    """Streamed query vectors probed against the persisted IVF+SQ8
    index produce exactly the batch kernel's per-query top-k."""
    import pyspark.sql.functions as F

    from model_audit_spark.operators.similarity import (
        as_double_array,
        ivf_sq8_index_probe_many,
        ivf_sq8_index_write,
    )
    from model_audit_spark.streaming import streaming_ann_probe

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    ivf_sq8_index_write(emb, idx, n_clusters=8)

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("qv"),
    )
    qdir = str(tmp_path / "queries")
    queries.write.parquet(qdir)

    got = []
    q = streaming_ann_probe(
        spark.readStream.schema("query_id LONG, qv ARRAY<DOUBLE>")
        .parquet(qdir),
        idx,
        lambda df, bid: got.extend(tuple(r) for r in df.collect()),
        checkpoint=str(tmp_path / "ckpt"),
        k=5,
        nprobe=3,
    )
    q.awaitTermination(120)
    want = [
        tuple(r)
        for r in ivf_sq8_index_probe_many(
            spark, idx, queries, k=5, nprobe=3
        ).collect()
    ]
    assert sorted(got) == sorted(want)
    assert len(want) == 4 * 5


def test_streaming_scd2_matches_batch_history(spark, tmp_path):
    """Custom stateful SCD2 (applyInPandasWithState): the reconstructed
    history — last emitted row per (user, version), update semantics —
    must equal cdc.scd2_history run in batch on the same fixture."""
    import shutil

    from model_audit_spark.operators.cdc import scd2_history
    from model_audit_spark.sources.readers import normalize_event_ts
    from model_audit_spark.streaming import streaming_scd2

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir = tmp_path / "events_scd2"
    src_dir.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet"
    )
    src = str(src_dir)
    schema = spark.read.parquet(src).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).parquet(src)
    )
    q = (
        streaming_scd2(stream)
        .writeStream.format("memory")
        .queryName("scd2_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2"))
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    # update semantics: the LAST emitted row per (user, version) wins
    emitted = spark.sql("select * from scd2_stream").collect()
    recon = {}
    for r in emitted:
        recon[(r.user_id, r.version)] = (
            r.event_type, r.valid_from, r.valid_to, r.n_events, r.is_current
        )
    batch = normalize_event_ts(spark.read.parquet(src))
    expected = {
        (r.user_id, r.version): (
            r.event_type, r.valid_from, r.valid_to, r.n_events, r.is_current
        )
        for r in scd2_history(batch).collect()
    }
    assert recon == expected and len(expected) > 100
