"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, as parquet files
under one directory, from one integer seed: the same seed gives
byte-identical inputs. Ground truth (planted duplicates, eval copies,
derived model pairs) is returned to the harness and never written where
the program could see it.

The corpus reuses the Zipf/Heaps vocabulary model and the near-dup
contract of scripts/scale_bench.py by import, with the head of the
vocabulary taken from the package's own catalogs so that style
detection and curation have real signal.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))
if str(ROOT / "scripts") not in sys.path:
    sys.path.insert(0, str(ROOT / "scripts"))

from model_audit_spark.catalogs import (  # noqa: E402
    BENCHMARK_SAMPLES,
    PROBES,
    STYLE_MARKERS,
)
from scale_bench import _append_dup, _zipf_vocab  # noqa: E402

from perfbench import checks  # noqa: E402

EMB_DIM = 64
EMB_LABELS = 16
EMB_SPREAD = 0.35
SAMPLE_WORDS = 30          # words of a catalog sample that open a marked doc


@dataclass
class Sizes:
    """Input sizes; the defaults are the benchmark's."""

    docs: int = 800            # curate_pipeline: corpus
    eval_copies: int = 40      # corpus docs copied into the eval set
    eval_fresh: int = 40       # eval docs not in the corpus
    p_exact: float = 0.03      # share of corpus docs that are exact copies
    p_near: float = 0.05       # share that are `original + " dup"`
    p_marked: float = 0.3      # share that open with a catalog sample/marker
    models: int = 8            # models in the audit responses
    base_docs: int = 800       # ingest_index: indexed corpus
    batches: int = 1           # batches ingested per pass
    batch_docs: int = 100      # docs per batch
    vectors: int = 1000        # embeddings in the ANN index
    queries: int = 16          # ANN probe queries per batch


@dataclass
class Truth:
    """Planted ground truth, kept by the harness."""

    exact_copies: dict[int, int] = field(default_factory=dict)   # copy -> src
    near_dups: dict[int, int] = field(default_factory=dict)      # dup -> src
    # corpus ids sharing a decontamination shingle with the eval set
    contaminated: set[int] = field(default_factory=set)
    derived_pairs: list[tuple[str, str]] = field(default_factory=list)
    independent_pairs: list[tuple[str, str]] = field(default_factory=list)
    batch_near_dups: dict[str, dict[int, int]] = field(default_factory=dict)
    doc_ids: list[int] = field(default_factory=list)
    texts: list[str] = field(default_factory=list)


def _head_words() -> list[str]:
    """Catalog words, most frequent first: the head of the Zipf ranks."""
    text = " ".join(s for s, _, _ in BENCHMARK_SAMPLES)
    text += " " + " ".join(w for ws in STYLE_MARKERS.values() for w in ws)
    words = re.findall(r"[a-z']+", text.lower())
    return [w for w, _ in sorted(Counter(words).items(),
                                 key=lambda t: (-t[1], t[0]))]


def _zipf_texts(rng, n: int, lo: int = 40, hi: int = 120) -> list[str]:
    n_tok = rng.integers(lo, hi, size=n)
    total = int(n_tok.sum())
    vocab, p = _zipf_vocab(total, _head_words())
    flat = vocab[rng.choice(len(vocab), size=total, p=p)]
    offs = np.concatenate(([0], np.cumsum(n_tok)))
    return [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n)]


def _marker_phrase(rng) -> str:
    cats = sorted(STYLE_MARKERS)
    cat = cats[rng.integers(0, len(cats))]
    words = STYLE_MARKERS[cat]
    return words[rng.integers(0, len(words))].capitalize() + ","


def _write(rows: dict, path: Path) -> str:
    pq.write_table(pa.table(rows), path)
    return str(path)


def corpus(rng, n: int, sizes: Sizes, truth: Truth) -> list[str]:
    """n docs (ids 0..n-1) with planted exact and near dups; fills truth
    in place."""
    fresh = _zipf_texts(rng, n)
    texts: list[str] = []
    plain: list[int] = []   # English zipf docs with no planted copy
    for i in range(n):
        r = rng.random()
        if i > 0 and r < sizes.p_near:
            _append_dup(texts, rng, i)
            src = texts.index(texts[-1][: -len(" dup")])
            truth.near_dups[i] = src
        elif plain and r < sizes.p_near + sizes.p_exact:
            src = plain[rng.integers(0, len(plain))]
            texts.append(texts[src])
            truth.exact_copies[i] = src
        elif r < sizes.p_near + sizes.p_exact + sizes.p_marked:
            s = BENCHMARK_SAMPLES[rng.integers(0, len(BENCHMARK_SAMPLES))][0]
            # a short opening: docs sharing a sample stay below the
            # near-dup threshold, so only planted pairs are duplicates
            s = " ".join(s.split()[:SAMPLE_WORDS])
            texts.append(f"{_marker_phrase(rng)} {s} {fresh[i]}")
        else:
            texts.append(fresh[i])
            plain.append(i)
    # a near dup drawn twice from one source is an exact copy as well
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        src = first.setdefault(t, i)
        if src != i:
            truth.exact_copies[i] = src
    return texts


def _style_responses(style: int, n_probes: int) -> list[str]:
    """One model's probe responses, shaped by its style seed."""
    srng = np.random.default_rng(1000 + style)
    cats = sorted(STYLE_MARKERS)
    fav = [cats[j] for j in srng.choice(len(cats), 2, replace=False)]
    length = int(srng.integers(20, 140))
    bullets = bool(srng.random() < 0.5)
    header = bool(srng.random() < 0.3)
    samples = [s for s, _, _ in BENCHMARK_SAMPLES]
    base = samples[int(srng.integers(0, len(samples)))]
    body = _zipf_texts(srng, n_probes, length, length + 20)
    out = []
    for p in range(n_probes):
        marks = " ".join(
            STYLE_MARKERS[c][int(srng.integers(0, len(STYLE_MARKERS[c])))]
            for c in fav
        )
        text = f"{marks.capitalize()}. {base[:200]} {body[p]}."
        if bullets:
            text += "\n- first point\n- second point"
        if header:
            text = "## Answer\n" + text
        out.append(text)
    return out


def responses(rng, sizes: Sizes, truth: Truth) -> dict:
    """models x PROBES responses. Models 2k and 2k+1 share a style seed
    for k < models // 4 (planted derived pairs); every other model has a
    style of its own, and pairs across them are planted independent."""
    n_models = sizes.models
    n_derived = n_models // 4
    names = [f"model-{k:02d}" for k in range(n_models)]
    styles = [k // 2 if k < 2 * n_derived else k for k in range(n_models)]
    style_offset = int(rng.integers(0, 10_000)) * 100
    rows = {"model_id": [], "probe_seq": [], "probe_id": [], "category": [],
            "response": []}
    for k, name in enumerate(names):
        texts = _style_responses(style_offset + styles[k], len(PROBES))
        if k < 2 * n_derived and k % 2 == 1:
            # the student paraphrases: one word dropped per response
            texts = [" ".join(t.split(" ")[:-1]) for t in texts]
        for seq, ((pid, cat, _), text) in enumerate(zip(PROBES, texts), 1):
            rows["model_id"].append(name)
            rows["probe_seq"].append(seq)
            rows["probe_id"].append(pid)
            rows["category"].append(cat)
            rows["response"].append(text)
    truth.derived_pairs = [
        (names[2 * j], names[2 * j + 1]) for j in range(n_derived)
    ]
    indep = list(range(2 * n_derived, n_models))
    truth.independent_pairs = [
        (names[indep[j]], names[indep[j + 1]])
        for j in range(0, len(indep) - 1, 2)
    ] + [(names[0], names[indep[0]])]
    return rows


def embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, size=n)
    vecs = centers[labels] + EMB_SPREAD * rng.normal(size=(n, EMB_DIM))
    return np.round(vecs, 6), labels


def generate(workload: str, seed: int, out: Path, sizes: Sizes) -> tuple[dict, Truth]:
    """Write the inputs of `workload` under `out`; return (paths, truth)."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    truth = Truth()
    paths: dict[str, str] = {}
    if workload == "curate_pipeline":
        texts = corpus(rng, sizes.docs, sizes, truth)
        truth.doc_ids = list(range(len(texts)))
        truth.texts = texts
        paths["docs"] = _write(
            {"doc_id": pa.array(truth.doc_ids, pa.int64()), "text": texts},
            out / "docs.parquet",
        )
        copied = set(truth.exact_copies) | set(truth.near_dups)
        pool = [i for i in truth.doc_ids if i not in copied]
        picks = rng.choice(pool, size=sizes.eval_copies, replace=False)
        eval_texts = [texts[int(i)] for i in picks]
        eval_texts += _zipf_texts(rng, sizes.eval_fresh)
        n = checks.DECONTAM_SHINGLE_N
        eval_sh = set().union(*(checks.shingles(t, n) for t in eval_texts))
        truth.contaminated = {
            i for i, t in enumerate(texts) if checks.shingles(t, n) & eval_sh
        }
        assert {int(i) for i in picks} <= truth.contaminated
        paths["eval"] = _write(
            {"doc_id": pa.array(range(len(eval_texts)), pa.int64()),
             "text": eval_texts},
            out / "eval.parquet",
        )
        paths["responses"] = _write(
            responses(rng, sizes, truth), out / "responses.parquet"
        )
    elif workload == "ingest_index":
        base = corpus(rng, sizes.base_docs, sizes, truth)
        paths["base"] = _write(
            {"doc_id": pa.array(range(len(base)), pa.int64()), "text": base},
            out / "base.parquet",
        )
        vecs, labels = embeddings(
            rng, sizes.vectors + sizes.queries * sizes.batches)
        paths["vectors"] = _write(
            {"vec_id": pa.array(range(sizes.vectors), pa.int64()),
             "embedding": list(vecs[: sizes.vectors]),
             "label": labels[: sizes.vectors]},
            out / "vectors.parquet",
        )
        next_id = len(base)
        for b in range(sizes.batches):
            # fresh docs plus near dups of indexed docs
            texts = _zipf_texts(rng, sizes.batch_docs)
            ids = list(range(next_id, next_id + len(texts)))
            n_dup = max(1, int(sizes.batch_docs * sizes.p_near))
            for j in rng.choice(len(texts), size=n_dup, replace=False):
                src = int(rng.integers(0, len(base)))
                texts[int(j)] = base[src] + " dup"
                truth.batch_near_dups.setdefault(f"batch{b}", {})[
                    ids[int(j)]] = src
            paths[f"batch{b}"] = _write(
                {"doc_id": pa.array(ids, pa.int64()), "text": texts},
                out / f"batch{b}.parquet",
            )
            next_id += len(texts)
            lo = sizes.vectors + b * sizes.queries
            paths[f"queries{b}"] = _write(
                {"query_id": pa.array(range(sizes.queries), pa.int64()),
                 "qv": list(vecs[lo: lo + sizes.queries])},
                out / f"queries{b}.parquet",
            )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return paths, truth

