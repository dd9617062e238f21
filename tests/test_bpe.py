"""BPE merge learning: parity with a sequential reference implementation,
the greedy-overlap rule, and early exhaustion — each reference check runs
on both sides of the vocabulary-size gate (collect_max_rows=None: the
driver-side heap learner; collect_max_rows=1: the distributed loop)."""
from __future__ import annotations

import collections

from pyspark.sql import functions as F

# both sides of the vocabulary-size gate: None keeps the default ceiling
# (driver-side heap learner), 1 forces the distributed fallback loop
GATES = (None, 1)


def _ref_bpe(words: list[str], k: int, min_count: int = 2):
    """Sequential Sennrich reference: pair counts over the word-freq
    dict, (count desc, pair asc) argmax, greedy left-to-right rewrite."""
    vocab = collections.Counter(words)
    seqs = {w: list(w) for w in vocab}
    merges = []
    for step in range(1, k + 1):
        pc: collections.Counter = collections.Counter()
        for w, f in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        pc = {p: c for p, c in pc.items() if c >= min_count}
        if not pc:
            break
        mx = max(pc.values())
        best = sorted(p for p, c in pc.items() if c == mx)[0]
        merges.append((step, best[0], best[1], pc[best]))
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if (
                    i + 1 < len(s)
                    and s[i] == best[0]
                    and s[i + 1] == best[1]
                ):
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def _learned(spark, text: str, k: int, collect_max_rows=None):
    from model_audit_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in learn_bpe_merges(
            df, n_merges=k, collect_max_rows=collect_max_rows
        )
        .orderBy("step")
        .collect()
    ]


def test_bpe_matches_sequential_reference_on_classic_corpus(spark):
    text = (
        "low low low low low lower lower newest newest newest newest "
        "newest newest widest widest widest"
    )
    for gate in GATES:
        assert _learned(spark, text, 6, gate) == _ref_bpe(text.split(), 6)


def test_bpe_greedy_left_to_right_non_overlapping(spark):
    """'llll' with the (l, l) merge must become [ll, ll] — position 1
    merges, position 2 is consumed, position 3 merges (island parity)."""
    from model_audit_spark.operators.bpe import apply_merge

    df = spark.createDataFrame(
        [(["l", "l", "l", "l"],), (["l", "l", "l"],), (["a", "l", "l"],)],
        "seq array<string>",
    )
    out = df.select(
        apply_merge(F.col("seq"), F.lit("l"), F.lit("l")).alias("m")
    ).collect()
    assert [r["m"] for r in out] == [
        ["ll", "ll"],
        ["ll", "l"],
        ["a", "ll"],
    ]
    # full loop on a chain corpus agrees with the reference
    text = "llll llll lll"
    for gate in GATES:
        assert _learned(spark, text, 3, gate) == _ref_bpe(text.split(), 3)


def test_bpe_early_exhaustion_emits_fewer_rows(spark):
    """A corpus whose pairs all drop under min_pair_count after a few
    merges stops early on BOTH paths."""
    text = "ab ab cd"  # (a,b) x2 qualifies; after merging, nothing does
    ref = _ref_bpe(text.split(), 5)
    for gate in GATES:
        got = _learned(spark, text, 5, gate)
        assert got == ref
        assert len(got) == 1 and got[0][:3] == (1, "a", "b")


def test_bpe_oracle_twin_matches_reference(spark):
    """The unrolled SQL twin reproduces the sequential reference on an
    adversarial mixed corpus (chains + ties + singletons)."""
    import duckdb

    from model_audit_spark.oracle import bpe_merges

    text = "banana banana bandana aaa aaaa ab ab xyz"
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT 1 AS doc_id, "
        f"'{text}' AS text"
    )
    rows = sorted(con.sql(bpe_merges(5)).fetchall())
    assert rows == _ref_bpe(text.split(), 5)


def test_bpe_vocab_segments_matches_reference_segmentation(spark):
    """Final segmentation equals the reference's end-state sequences;
    fertility (n_subwords) is len(segments.split())."""
    from model_audit_spark.operators.bpe import bpe_vocab_segments

    text = (
        "low low low low low lower lower newest newest newest newest "
        "newest newest widest widest widest"
    )
    # reference end-state after 6 merges
    words = text.split()
    merges = _ref_bpe(words, 6)
    seqs = {w: list(w) for w in set(words)}
    for _, a, b, _c in merges:
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    freqs = collections.Counter(words)
    for gate in GATES:
        got = {
            r["word"]: (r["freq"], r["segments"], r["n_subwords"])
            for r in bpe_vocab_segments(
                df, n_merges=6, collect_max_rows=gate
            ).collect()
        }
        for w, (f, seg, n) in got.items():
            assert f == freqs[w]
            assert seg == " ".join(seqs[w])
            assert n == len(seqs[w])
        assert set(got) == set(freqs)
        # top_k keeps the most frequent words, (freq desc, word asc)
        top = [
            (r["word"], r["segments"])
            for r in bpe_vocab_segments(
                df, n_merges=6, top_k=2, collect_max_rows=gate
            ).collect()
        ]
        assert top == [
            ("newest", " ".join(seqs["newest"])),
            ("low", " ".join(seqs["low"])),
        ]


def test_bpe_sql_twin_property_random_corpora():
    """The unrolled SQL twin equals the sequential reference for ANY
    small corpus — random words over a tiny alphabet maximize merge
    collisions, ties, chains, and early exhaustion (no Spark needed:
    this pins the twin itself; the Spark side is pinned above)."""
    import random

    import duckdb

    from model_audit_spark.oracle import bpe_merges

    rng = random.Random(7)
    for trial in range(12):
        n_words = rng.randint(1, 12)
        words = [
            "".join(
                rng.choice("abc") for _ in range(rng.randint(1, 6))
            )
            for _ in range(n_words)
        ]
        text = " ".join(words)
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT 1 AS doc_id, '{text}' AS text"
        )
        got = sorted(con.sql(bpe_merges(4)).fetchall())
        assert got == _ref_bpe(words, 4), (trial, text, got)


def test_driver_argmax_early_exhaustion_stops_loop(spark):
    """The distributed fallback loop (forced by collect_max_rows=1)
    exits on the first exhausted step instead of running all 50."""
    from model_audit_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab")], "doc_id long, text string"
    )
    # 'a b' merges (count 3); then 'ab' is a single symbol per word —
    # no adjacent pair reaches min_pair_count=2 again
    out = learn_bpe_merges(df, n_merges=50, collect_max_rows=1).collect()
    assert len(out) == 1
    assert (out[0]["left"], out[0]["right"]) == ("a", "b")


def test_bpe_fertility_final_state(spark):
    """Fertility = freq-weighted subwords per word; with enough merges
    the corpus' frequent words collapse to single symbols, pushing the
    mean toward 1 from above. Totals are exact integers. An empty
    corpus follows SQL-sum semantics: n_words 0, NULL totals (sum over
    zero rows), NULL fertility."""
    from model_audit_spark.operators.bpe import bpe_fertility

    rows = [(i, "alpha beta beta") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    for gate in GATES:
        r0 = bpe_fertility(df, n_merges=0, collect_max_rows=gate)
        r8 = bpe_fertility(df, n_merges=8, collect_max_rows=gate)
        r0, r8 = r0.collect()[0], r8.collect()[0]
        assert r0["n_words"] == r8["n_words"] == 2
        assert r0["total_freq"] == r8["total_freq"] == 60
        # before merges: 'alpha'=5 chars x20 + 'beta'=4x40 = 260 subwords
        assert r0["total_subwords"] == 260
        assert r0["mean_fertility"] == round(260 / 60, 6)
        # 8 merges fully fuse both words (4+3 needed): 1 subword/token
        assert r8["total_subwords"] == 60
        assert r8["mean_fertility"] == 1.0
        assert r8["n_merges_done"] <= 8
        e = bpe_fertility(empty, n_merges=4, collect_max_rows=gate)
        assert tuple(e.collect()[0]) == (0, 0, None, None, None)


def test_collected_learner_early_exhaustion(spark):
    from model_audit_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab")], "doc_id long, text string"
    )
    out = learn_bpe_merges(df, n_merges=50).collect()
    assert len(out) == 1
    assert (out[0]["left"], out[0]["right"]) == ("a", "b")


def test_collected_chain_memo_shares_work(spark):
    """With a memo_key, fertility reuses the chain merges already
    learned (one obj-memo entry, not two); release_all clears it."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.bpe import (
        bpe_fertility,
        learn_bpe_merges,
    )

    persistence.release_all()
    df = spark.createDataFrame(
        [(1, "low low lower newest newest")], "doc_id long, text string"
    )
    m = learn_bpe_merges(df, n_merges=6, memo_key="t")
    n_m = m.count()
    assert persistence.obj_memo_size() == 1
    f = bpe_fertility(df, n_merges=6, memo_key="t").collect()[0]
    assert persistence.obj_memo_size() == 1  # reused, not re-learned
    assert f["n_merges_done"] == n_m
    persistence.release_all()
    assert persistence.obj_memo_size() == 0


def test_incremental_learner_property_random_corpora():
    """The r6 incremental heap learner (_learn_merges_py) equals the
    full-recount sequential reference for ANY corpus — randomized over
    a tiny alphabet to maximize count collisions (tie-breaks), pair
    REAPPEARANCE after later merges, stale-heap-entry churn, and early
    exhaustion. Pure Python, no Spark; deep merge counts stress the
    incremental count/index updates far past what the Spark gates run."""
    import collections
    import random

    from model_audit_spark.operators.bpe import _learn_merges_py

    rng = random.Random(99)
    for trial in range(60):
        n_words = rng.randint(1, 15)
        words = [
            "".join(
                rng.choice("ab") for _ in range(rng.randint(1, 8))
            )
            for _ in range(n_words)
        ]
        k = rng.randint(1, 30)
        min_count = rng.randint(1, 3)
        vocab = sorted(collections.Counter(words).items())
        got, n_w, tot_f, tot_sub = _learn_merges_py(vocab, k, min_count)
        assert got == _ref_bpe(words, k, min_count), (trial, words, k)
        assert n_w == len(vocab) and tot_f == len(words)
        # final totals equal a from-scratch replay of the merge table
        seqs = {w: list(w) for w, _ in vocab}
        for _, l, r, _ in got:
            for w in seqs:
                s, out, i = seqs[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        freq = dict(vocab)
        assert tot_sub == sum(len(s) * freq[w] for w, s in seqs.items())


def test_vocab_gate_forces_distributed_fallback(spark):
    """r13 (VERDICT #4): the driver-side learner is GATED on the
    measured vocabulary row count — with collect_max_rows below the
    corpus vocabulary, every entry point must route through the
    distributed loop (no unbounded driver collect) and emit IDENTICAL
    output to the collected path, on a multi-document corpus whose
    'tailN' suffixes force count ties broken by string order."""
    from model_audit_spark import persistence
    from model_audit_spark.operators.bpe import (
        bpe_fertility,
        bpe_vocab_segments,
        learn_bpe_merges,
    )

    rows = [
        (i, "the cat sat on the mat " * 2 + f"tail{i % 5}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    merges_fast = [
        tuple(r) for r in learn_bpe_merges(df, n_merges=10).collect()
    ]
    words = [w for _, t in rows for w in t.split()]
    assert merges_fast == _ref_bpe(words, 10)
    persistence.release_all()
    merges_fb = [
        tuple(r)
        for r in learn_bpe_merges(
            df, n_merges=10, collect_max_rows=1
        ).collect()
    ]
    assert merges_fb == merges_fast and len(merges_fb) == 10

    persistence.release_all()
    fert_fast = tuple(bpe_fertility(df, n_merges=10).collect()[0])
    persistence.release_all()
    fert_fb = tuple(
        bpe_fertility(df, n_merges=10, collect_max_rows=1).collect()[0]
    )
    assert fert_fb == fert_fast

    persistence.release_all()
    seg_fast = sorted(
        tuple(r) for r in bpe_vocab_segments(df, n_merges=6).collect()
    )
    persistence.release_all()
    seg_fb = sorted(
        tuple(r)
        for r in bpe_vocab_segments(
            df, n_merges=6, collect_max_rows=1
        ).collect()
    )
    assert seg_fb == seg_fast
    persistence.release_all()


def test_vocab_gate_env_override(monkeypatch):
    """$SPARK_GRAFT_BPE_COLLECT_MAX reconfigures the default ceiling;
    an explicit argument wins over the env."""
    from model_audit_spark.operators.bpe import _collect_max_rows

    assert _collect_max_rows() == 20_000_000
    monkeypatch.setenv("SPARK_GRAFT_BPE_COLLECT_MAX", "123")
    assert _collect_max_rows() == 123
    assert _collect_max_rows(7) == 7
