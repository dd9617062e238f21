"""The benchmark workloads, each a closed loop with one client.

A workload is built as W(spark, input paths, truth, output dir,
recorder). `passes(p)` yields the operations of pass p as callables; the
harness times each call. `requests()` yields operations the traced run
makes once, after its passes, outside the timed op metrics. An
operation calls into the package only through its public functions,
each call inside a span named after its layer boundary, and returns an
`OpResult` whose outputs the harness checks after the timed region.
Memos stay live within a pass and are released between passes.
"""

from __future__ import annotations

import gc
import hashlib
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from model_audit_spark import persistence
from model_audit_spark.engine import AuditEngine
from model_audit_spark.operators.cluster import dedup_decisions
from model_audit_spark.operators.curate import curate_corpus
from model_audit_spark.operators.decontam import decontaminate
from model_audit_spark.operators.dedup import (
    incremental_dedup_pairs,
    jaccard_verify,
    lsh_band_rows,
    minhash_band_pairs,
    minhash_index_append,
    minhash_index_read,
    minhash_index_write,
    minhash_signatures,
)
from model_audit_spark.operators.detect import detection_distribution
from model_audit_spark.operators.packing import pack_chunks
from model_audit_spark.operators.similarity import (
    ivf_sq8_index_probe_many,
    ivf_sq8_index_write,
)
from model_audit_spark.probing import StaticResponseSource
from model_audit_spark.report import generate_report
from model_audit_spark.sources.readers import read_texts

from perfbench import checks

PIPELINE_LAYERS = ["readers", "detect", "curate", "dedup.pairs", "cluster",
                   "decontam", "packing"]
AUDIT_LAYERS = ["engine.audit", "report", "engine.verify"]
INGEST_LAYERS = ["dedup.index_write", "dedup.index_probe",
                 "similarity.index_write", "similarity.index_probe"]
LAYERS = PIPELINE_LAYERS + AUDIT_LAYERS + INGEST_LAYERS


@dataclass
class OpResult:
    """One operation's outputs. `key` names the operation's position in
    a pass: the digest of `outputs` must repeat at that key in every
    pass. `extra`, when set, counts candidate work for the traced run;
    the harness calls it after the timed region."""

    key: str
    items: int
    outputs: dict = field(default_factory=dict)
    extra: Callable[[], dict] | None = None

    @property
    def digest(self) -> str:
        h = hashlib.sha256()
        for k in sorted(self.outputs):
            h.update(f"{k}={self.outputs[k]!r};".encode())
        return h.hexdigest()[:16]


def _rows(df, *cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def release(spark) -> None:
    """Between passes: drop memos, cached relations and dead references,
    then collect the JVM heap so no pass inherits the last one's garbage."""
    persistence.release_all()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class CuratePipeline:
    """The session pipeline, one operation per pass over the corpus.

    `requests` are the audit requests on the responses relation (audit,
    markdown report, verify) that the traced run makes once, after its
    passes: one on a planted derived pair, then one on a planted
    independent pair, so both verdicts are checked. The engine and
    report layers are measured there; the first request is their cold
    one.
    """

    items_name = "corpus docs"

    def __init__(self, spark, paths, truth, workdir: Path, rec):
        self.spark, self.paths, self.truth = spark, paths, truth
        self.workdir, self.rec = workdir, rec
        self.detector = AuditEngine(spark)

    def passes(self, p: int):
        yield lambda: self._pass(p)

    def requests(self):
        resp = self.spark.read.parquet(self.paths["responses"])
        auditor = AuditEngine(self.spark, StaticResponseSource(resp))
        for (teacher, student), derived in (
                (self.truth.derived_pairs[0], True),
                (self.truth.independent_pairs[0], False)):
            yield lambda t=teacher, s=student, d=derived: self._request(
                auditor, t, s, d)

    def _pass(self, p: int) -> OpResult:
        spark, rec = self.spark, self.rec
        res = OpResult(key="pass", items=len(self.truth.doc_ids))
        out = res.outputs
        with rec.span("readers") as sp:
            docs = read_texts(spark, self.paths["docs"])
            rec.built(sp)
            docs = persistence.track(docs.select("doc_id", "text").persist())
            out["n_docs"] = docs.count()
        with rec.span("detect") as sp:
            dist = detection_distribution(
                self.detector.detect(docs, "text", "doc_id"))
            rec.built(sp)
            out["distribution"] = _rows(dist, "predicted_model", "n_texts")
        with rec.span("curate") as sp:
            cur = persistence.track(curate_corpus(docs).persist())
            rec.built(sp)
            out["verdicts"] = _rows(cur, "doc_id", "drop_reason", "kept")
        with rec.span("dedup.pairs") as sp:
            cand = minhash_band_pairs(minhash_signatures(docs))
            pairs = persistence.track(jaccard_verify(
                docs, cand, min_jaccard=checks.MIN_JACCARD).persist())
            rec.built(sp)
            out["pairs"] = _rows(pairs, "id_a", "id_b", "jaccard")
        with rec.span("cluster") as sp:
            dec = dedup_decisions(cur.select("doc_id", "quality_score"), pairs)
            rec.built(sp)
            out["decisions"] = _rows(dec, "removed_id", "kept_id")
        with rec.span("decontam") as sp:
            kept = docs.join(cur.filter("kept").select("doc_id"), "doc_id",
                             "left_semi")
            clean = decontaminate(kept, read_texts(spark, self.paths["eval"]))
            rec.built(sp)
            clean = persistence.track(clean.persist())
            out["clean_ids"] = _rows(clean, "doc_id")
        with rec.span("packing") as sp:
            packed = pack_chunks(clean)
            rec.built(sp)
            dest = self.workdir / f"packed-{p}"
            packed.write.mode("overwrite").parquet(str(dest))
        out["packed"] = checks.read_packed(dest)
        # jaccard_verify persisted `cand`, so its count reads the cache
        res.extra = lambda: {"dedup.pairs": (len(out["pairs"]), cand.count())}
        return res

    def _request(self, auditor, teacher: str, student: str,
                 derived: bool) -> OpResult:
        rec = self.rec
        with rec.span("engine.audit") as sp:
            result = auditor.audit(teacher, student)
            rec.built(sp)
        with rec.span("report") as sp:
            md = generate_report(result)
            rec.built(sp)
        with rec.span("engine.verify") as sp:
            ver = auditor.verify(student)
            rec.built(sp)
            rows = [tuple(r) for r in ver.collect()]
        return OpResult(
            key=f"audit {teacher}/{student}", items=0,
            outputs={"derived": derived, "verify": rows,
                     "report": checks.report_digest_text(md)})

    def check(self, res: OpResult) -> list[str]:
        return checks.check_pipeline(res.outputs, self.truth)

    def check_request(self, res: OpResult) -> list[str]:
        return checks.check_audit(res.outputs)


class IngestIndex:
    """Continuous ingestion. Each pass writes both indexes, then every
    batch is deduplicated against the minhash index, appended to it, and
    followed by a batch of ANN probes; one operation per batch."""

    items_name = "batch docs + probe queries"

    def __init__(self, spark, paths, truth, workdir: Path, rec):
        self.spark, self.paths, self.truth = spark, paths, truth
        self.workdir, self.rec = workdir, rec
        self.batches = sorted(k for k in paths if k.startswith("batch"))
        self.exact = {
            b: checks.exact_topk(paths["vectors"], paths[_queries(b)], 10)
            for b in self.batches
        }
        self.n_docs = {b: pq.ParquetFile(paths[b]).metadata.num_rows
                       for b in self.batches}

    def passes(self, p: int):
        spark, rec = self.spark, self.rec
        root = self.workdir / f"index-{p}"
        base = spark.read.parquet(self.paths["base"])
        with rec.span("dedup.index_write"):
            minhash_index_write(base, str(root / "minhash"))
        with rec.span("similarity.index_write"):
            ivf_sq8_index_write(
                spark.read.parquet(self.paths["vectors"]), str(root / "ivf"))
        indexed = [base]
        for b in self.batches:
            yield lambda b=b: self._batch(b, root, indexed)

    def requests(self):
        return []

    def _batch(self, b: str, root: Path, indexed: list) -> OpResult:
        """Dedup batch b against the index, append its new docs, probe."""
        spark, rec = self.spark, self.rec
        batch = spark.read.parquet(self.paths[b])
        corpus = indexed[0]
        for df in indexed[1:]:
            corpus = corpus.unionByName(df)
        with rec.span("dedup.index_probe") as sp:
            index = minhash_index_read(spark, str(root / "minhash"))
            pairs = incremental_dedup_pairs(batch, index, corpus)
            rec.built(sp)
            rows = _rows(pairs, "id_new", "id_idx", "jaccard")
        dups = sorted({r[0] for r in rows})
        with rec.span("dedup.index_write"):
            fresh = batch.filter(~F.col("doc_id").isin(dups))
            minhash_index_append(fresh, str(root / "minhash"))
        indexed.append(fresh)
        queries = spark.read.parquet(self.paths[_queries(b)])
        with rec.span("similarity.index_probe") as sp:
            top = ivf_sq8_index_probe_many(spark, str(root / "ivf"), queries)
            rec.built(sp)
            hits = _rows(top, "query_id", "vec_id", "approx_dot")
        res = OpResult(key=b, items=self.n_docs[b] + len(self.exact[b]),
                       outputs={"pairs": rows, "hits": hits})
        # the candidate count must see the index as the probe saw it
        seen = index.join(corpus.select("doc_id"), "doc_id", "left_semi")
        res.extra = lambda: {
            "dedup.index_probe": (len(rows), _index_candidates(batch, seen)),
            "similarity.index_probe.recall_at_10":
                checks.recall_at_10(hits, self.exact[b]),
        }
        return res

    def check(self, res: OpResult) -> list[str]:
        return checks.check_ingest(
            res.outputs, self.truth.batch_near_dups.get(res.key, {}),
            self.exact[res.key])


def _queries(batch_key: str) -> str:
    return "queries" + batch_key[len("batch"):]


def _index_candidates(batch, index) -> int:
    """Candidate pairs the index probe verifies, counted from outside
    with the same public banding functions."""
    rows = lsh_band_rows(minhash_signatures(batch)).select(
        F.col("doc_id").alias("id_new"), "band", "bh")
    idx = index.select(F.col("doc_id").alias("id_idx"), "band", "bh")
    return (rows.join(idx, ["band", "bh"])
            .filter(F.col("id_new") != F.col("id_idx"))
            .select("id_new", "id_idx").distinct().count())


WORKLOADS = {
    "curate_pipeline": CuratePipeline,
    "ingest_index": IngestIndex,
}
