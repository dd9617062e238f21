"""Output checks against planted ground truth.

Each check takes the plain Python outputs an operation collected and
returns the list of failed conditions (empty when the outputs are
correct). No check touches Spark, so the negative controls in
test_checks.py run without a session.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

NEAR_DUP_RECALL = 0.9   # share of planted near dups the pairs must contain
MIN_JACCARD = 0.5       # jaccard_verify threshold of the pipeline
PAIR_SHINGLE_N = 3      # jaccard_verify's word shingles
DECONTAM_SHINGLE_N = 5  # decontaminate's word shingles
MIN_KEPT_SHARE = 0.5    # curate keeps at least this share of unplanted docs
RECALL_AT_10 = 0.8      # IVF+SQ8 probe recall against exact top-10
REPORT_SECTIONS = [
    "# 模型蒸馏审计报告",
    "## 1. 审计对象",
    "## 2. 审计方法",
    "## 3. 审计结果",
    "## 4. 关键发现",
    "## 5. 结论",
    "## 6. 局限性声明",
]
DERIVED_TEXT = "可能存在蒸馏关系"   # report.VERDICT_MAP["likely_derived"]
_WORD = re.compile(r"\w+")


def read_packed(path) -> list[tuple]:
    """(doc_id, shard, n_tokens, start_off) rows of a pack_chunks write."""
    t = ds.dataset(str(path), format="parquet").to_table(
        columns=["doc_id", "shard", "n_tokens", "start_off"])
    return sorted(zip(*(t[c].to_pylist() for c in t.column_names)))


def exact_topk(path_vectors: str, path_queries: str, k: int) -> dict:
    """Exact top-k by dot product, ties by id, computed with numpy."""
    v = pq.read_table(path_vectors)
    q = pq.read_table(path_queries)
    ids = np.asarray(v["vec_id"])
    scores = np.array(q["qv"].to_pylist()) @ np.array(
        v["embedding"].to_pylist()).T
    return {
        qid: {int(x) for x in ids[np.lexsort((ids, -row))[:k]]}
        for qid, row in zip(q["query_id"].to_pylist(), scores)
    }


def tiling_failures(packed: list[tuple]) -> list[str]:
    """Per shard, in id order, each doc starts where the last one ended."""
    by_shard = defaultdict(list)
    for doc_id, shard, n_tok, start in packed:
        by_shard[shard].append((doc_id, n_tok, start))
    for shard, rows in by_shard.items():
        off = 0
        for doc_id, n_tok, start in sorted(rows):
            if start != off:
                return [f"packing: doc {doc_id} of shard {shard} starts at "
                        f"{start}, expected {off}"]
            off += n_tok
    return []


def shingles(text: str, n: int) -> set[str]:
    """Distinct word n-shingles, tokenized as the package's word_tokens
    (lower case, runs of letters, digits and '_')."""
    w = _WORD.findall(text.lower())
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a, PAIR_SHINGLE_N), shingles(b, PAIR_SHINGLE_N)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def near_dup_failures(pairs, planted, layer: str) -> list[str]:
    if not planted:
        return []
    paired = {a for a, b, _ in pairs} | {b for a, b, _ in pairs}
    found = sum(1 for d in planted if d in paired)
    if found < NEAR_DUP_RECALL * len(planted):
        return [f"{layer}: {found}/{len(planted)} planted near dups found"]
    return []


def pair_failures(pairs, texts: list[str]) -> list[str]:
    """Each verified pair's Jaccard, recomputed from the texts, matches
    and clears the threshold."""
    for a, b, jac in pairs:
        want = jaccard(texts[a], texts[b])
        if abs(jac - want) > 1e-6 or want < MIN_JACCARD:
            return [f"dedup.pairs: pair ({a}, {b}) reports Jaccard {jac}, "
                    f"texts give {want:.6f}"]
    return []


def verdict_failures(verdicts, pairs, truth) -> list[str]:
    """Every doc gets the first failing stage of lang -> quality ->
    exact_dup -> near_dup. lang and quality are the package's own
    judgement, except that an exact copy shares its source's; after them
    the reason is fixed by the planted exact copies and the verified
    pairs, and a doc with no reason is kept."""
    fail: list[str] = []
    reason_of = {doc: reason for doc, reason, _ in verdicts}
    near = {b for _, b, _ in pairs}
    for doc, reason, kept in verdicts:
        src = truth.exact_copies.get(doc)
        if src is not None:
            first = reason_of.get(src)
            want = first if first in ("lang", "quality") else "exact_dup"
        elif reason in ("lang", "quality"):
            want = reason
        else:
            want = "near_dup" if doc in near else None
        if kept != (reason is None):
            fail.append(f"curate: doc {doc} has reason {reason} and "
                        f"kept={kept}")
        elif reason != want:
            fail.append(f"curate: doc {doc} dropped as {reason}, "
                        f"expected {want}")
        if len(fail) >= 5:
            break
    fresh = len(verdicts) - len(truth.exact_copies) - len(truth.near_dups)
    n_kept = sum(1 for r in verdicts if r[2])
    if n_kept < MIN_KEPT_SHARE * fresh:
        fail.append(f"curate: {n_kept} docs kept, fewer than "
                    f"{MIN_KEPT_SHARE:.0%} of {fresh} unplanted docs")
    return fail


def cluster_failures(pairs, decisions) -> list[str]:
    """Each connected component of the verified pairs keeps exactly one
    member; every other member is removed once, naming a kept member of
    its own component."""
    root: dict = {}

    def find(x):
        while root.setdefault(x, x) != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b, _ in pairs:
        root[find(a)] = find(b)
    removed = [r for r, _ in decisions]
    if len(set(removed)) != len(removed):
        return ["cluster: a doc removed twice"]
    gone = set(removed)
    for r, k in decisions:
        if r not in root or k in gone or find(r) != find(k):
            return [f"cluster: doc {r} removed for {k}, which is removed "
                    f"or in another component"]
    members = defaultdict(set)
    for x in list(root):
        members[find(x)].add(x)
    for comp in members.values():
        if len(comp - gone) != 1:
            return [f"cluster: component of {min(comp)} keeps "
                    f"{len(comp - gone)} of {len(comp)} docs"]
    return []


def check_pipeline(out: dict, truth) -> list[str]:
    fail: list[str] = []
    ids = truth.doc_ids
    if out["n_docs"] != len(ids):
        fail.append(f"readers: {out['n_docs']} docs read, {len(ids)} written")
    if sum(n for _, n in out["distribution"]) != len(ids):
        fail.append("detect: distribution does not count every doc once")
    verdicts = out["verdicts"]
    if [r[0] for r in verdicts] != ids:
        fail.append("curate: not exactly one verdict per doc")
    fail += verdict_failures(verdicts, out["pairs"], truth)
    fail += near_dup_failures(out["pairs"], truth.near_dups, "dedup.pairs")
    fail += pair_failures(out["pairs"], truth.texts)
    fail += cluster_failures(out["pairs"], out["decisions"])
    kept = {r[0] for r in verdicts if r[2]}
    clean = {r[0] for r in out["clean_ids"]}
    want = kept - truth.contaminated
    if clean != want:
        fail.append(f"decontam: {len(clean)} docs left, expected "
                    f"{len(want)}; leaked {sorted(clean - want)[:5]}, "
                    f"lost {sorted(want - clean)[:5]}")
    packed = out["packed"]
    if sorted(r[0] for r in packed) != sorted(clean):
        fail.append("packing: packed docs differ from the decontaminated set")
    fail += tiling_failures(packed)
    return fail


def report_digest_text(md: str) -> str:
    """The report without its date line, which changes across days."""
    return re.sub(r"\*\*审计时间\*\*: \S+", "", md)


def check_audit(out: dict) -> list[str]:
    fail: list[str] = []
    md = out["report"]
    missing = [h for h in REPORT_SECTIONS if h not in md]
    if missing:
        fail.append(f"report: sections missing {missing}")
    if (DERIVED_TEXT in md) != out["derived"]:
        want = "likely_derived" if out["derived"] else "not likely_derived"
        fail.append(f"engine.audit: planted pair should be {want}")
    if len(out["verify"]) != 1:
        fail.append("engine.verify: expected one row")
    return fail


def recall_at_10(hits, exact: dict) -> float:
    got = defaultdict(set)
    for qid, vid, _ in hits:
        got[qid].add(vid)
    return float(np.mean([len(got[q] & exact[q]) / len(exact[q])
                          for q in exact]))


def check_ingest(out: dict, planted: dict, exact: dict) -> list[str]:
    fail = near_dup_failures(out["pairs"], planted, "dedup.index_probe")
    r = recall_at_10(out["hits"], exact)
    if r < RECALL_AT_10:
        fail.append(f"similarity.index_probe: recall@10 {r:.3f} "
                    f"< {RECALL_AT_10}")
    return fail
