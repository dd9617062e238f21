"""Negative controls for the benchmark's output checks: each test builds
outputs that pass, corrupts one of them, and shows the check fails.
No Spark session is needed.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import copy
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import checks  # noqa: E402
from perfbench.inputs import Truth  # noqa: E402
from perfbench.run import Run, tail  # noqa: E402
from perfbench.workloads import OpResult  # noqa: E402


TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a stitch in time saves nine when the weather turns cold and wet",
    "every cloud has a silver lining if you look closely enough today",
]


def _pipeline():
    """A 6-doc corpus: 3 is an exact copy of 0, 4 a near dup of 1, 5
    shares a shingle with the eval set."""
    texts = TEXTS + [TEXTS[0], TEXTS[1] + " dup", "fresh words of doc five"]
    truth = Truth(exact_copies={3: 0}, near_dups={4: 1}, contaminated={5},
                  doc_ids=list(range(6)), texts=texts)
    out = {
        "n_docs": 6,
        "distribution": [("claude", 2), ("gpt-4", 4)],
        "verdicts": [(0, None, True), (1, None, True), (2, None, True),
                     (3, "exact_dup", False), (4, "near_dup", False),
                     (5, None, True)],
        "pairs": [(0, 3, 1.0), (1, 4, checks.jaccard(texts[1], texts[4]))],
        "decisions": [(3, 0), (4, 1)],
        "clean_ids": [(0,), (1,), (2,)],
        "packed": [(0, 1, 50, 0), (1, 0, 30, 0), (2, 1, 20, 50)],
    }
    return out, truth


def test_pipeline_outputs_pass():
    out, truth = _pipeline()
    assert checks.check_pipeline(out, truth) == []


def _fails(mutate) -> list[str]:
    out, truth = _pipeline()
    out = copy.deepcopy(out)
    mutate(out)
    return checks.check_pipeline(out, truth)


def test_missing_verdict_fails():
    assert any("one verdict per doc" in f
               for f in _fails(lambda o: o["verdicts"].pop(2)))


def test_exact_dup_with_other_reason_fails():
    def mutate(o):
        o["verdicts"][3] = (3, "quality", False)
    assert any("expected exact_dup" in f for f in _fails(mutate))


def test_unplanted_exact_dup_fails():
    def mutate(o):
        o["verdicts"][2] = (2, "exact_dup", False)
    assert any("expected None" in f for f in _fails(mutate))


def test_kept_near_dup_fails():
    def mutate(o):
        o["verdicts"][4] = (4, None, True)
    assert any("expected near_dup" in f for f in _fails(mutate))


def test_nothing_kept_fails():
    def mutate(o):
        o["verdicts"] = [(d, "quality", False) for d, _, _ in o["verdicts"]]
        o["clean_ids"], o["packed"] = [], []
    assert any("docs kept" in f for f in _fails(mutate))


def test_lost_near_dup_fails():
    assert any("near dups found" in f
               for f in _fails(lambda o: o["pairs"].pop()))


def test_wrong_jaccard_fails():
    def mutate(o):
        o["pairs"][1] = (1, 4, 0.99)
    assert any("reports Jaccard" in f for f in _fails(mutate))


def test_surviving_eval_copy_fails():
    def mutate(o):
        o["clean_ids"].append((5,))
        o["packed"].append((5, 0, 10, 30))
    assert any("leaked [5]" in f for f in _fails(mutate))


def test_empty_decontam_output_fails():
    def mutate(o):
        o["clean_ids"], o["packed"] = [], []
    assert any("lost [0, 1, 2]" in f for f in _fails(mutate))


def test_overlapping_pack_offsets_fail():
    def mutate(o):
        o["packed"][2] = (2, 1, 20, 49)
    assert any("starts at 49" in f for f in _fails(mutate))


def test_doc_removed_twice_fails():
    assert any("removed twice" in f
               for f in _fails(lambda o: o["decisions"].append((4, 0))))


def test_missing_decisions_fail():
    assert any("keeps 2 of 2" in f
               for f in _fails(lambda o: o["decisions"].clear()))


def test_removal_across_components_fails():
    def mutate(o):
        o["decisions"][1] = (4, 0)
    assert any("another component" in f for f in _fails(mutate))


def test_ingest_checks():
    """Batch doc 10 near-duplicates indexed doc 2; query 0's exact top-10
    is vectors 0-9."""
    out = {"pairs": [(10, 2, 0.97)],
           "hits": [(0, v, 1.0) for v in range(10)]}
    planted, exact = {10: 2}, {0: set(range(10))}
    assert checks.check_ingest(out, planted, exact) == []
    missed = {**out, "pairs": []}
    assert any("dedup.index_probe" in f
               for f in checks.check_ingest(missed, planted, exact))
    far = {**out, "hits": [(0, v, 1.0) for v in range(100, 110)]}
    assert any("recall@10" in f
               for f in checks.check_ingest(far, planted, exact))


def test_audit_checks():
    md = "\n".join(checks.REPORT_SECTIONS) + "\n" + checks.DERIVED_TEXT
    good = {"report": md, "verify": [("m", True)], "derived": True}
    assert checks.check_audit(good) == []
    assert checks.check_audit({**good, "derived": False})
    assert checks.check_audit(
        {**good, "report": md.replace("## 4. 关键发现", "")})
    assert checks.check_audit({**good, "verify": []})


class _Stub:
    def check(self, res):
        return []


def test_changed_digest_counts_as_failed_op():
    run = Run(None, _Stub(), None)

    def account(a, p):
        op = OpResult(key="pass", items=1, outputs={"a": a})
        run._account(op, p, run.w.check)

    account([1, 2], 0)
    account([1, 2], 1)
    assert run.failed == 0
    account([1, 3], 2)
    assert run.failed == 1 and "changed in pass 2" in run.failures[0]


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
