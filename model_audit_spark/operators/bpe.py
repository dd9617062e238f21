"""Distributed BPE merge learning (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units"; scale
extension, no reference counterpart — learning the tokenizer IS a
training-data-pipeline job, and the classic algorithm distributes
cleanly because it iterates over the WORD-FREQUENCY relation, not the
corpus).

Algorithm: collapse the corpus to (word, freq) once — the only
corpus-sized pass; represent each word as a symbol sequence (initially
characters); then per merge step
  1. count adjacent symbol pairs weighted by word freq,
  2. pick the most frequent pair (count desc, left asc, right asc —
     a total order, so the choice is engine-independent),
  3. rewrite every word's sequence replacing that pair LEFT-TO-RIGHT
     NON-OVERLAPPING with the concatenated symbol,
and emit the merge table (step, left, right, pair_count) — the actual
artifact a BPE tokenizer ships.

Scale shape: one learner behind a measured size gate. The
word-frequency relation is persisted and COUNTED first (_gated_wf).
At or below `collect_max_rows` rows (default 20M,
$SPARK_GRAFT_BPE_COLLECT_MAX) it is collected — the vocabulary is
Heaps-bounded, ≪ corpus — and the whole chain is learned driver-side
by an incremental heap learner (_learn_merges_py) in ONE Spark job.
Above the gate the chain runs distributed over the cached vocabulary
(_merge_loop): per step one pair-count aggregate whose single winning
row returns to the driver, then a literal-parameterized apply_merge
projection; a lazy localCheckpoint every _CKPT_EVERY steps keeps the
plan bounded, and each step's `.first()` is the single-threaded
action that materializes it. Both branches emit identical output
(pinned in tests with collect_max_rows=1 forcing the fallback).

Determinism: pair counts are exact integers; the argmax's
(count desc, left asc, right asc) tuple is unique; the left-to-right
greedy rewrite is mirrored in the SQL twin as an island-parity
selection over candidate positions (see oracle.bpe_merges) — unrolled
per step, so even this iterative algorithm is hash-certified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from model_audit_spark.functions.text import word_tokens

__all__ = [
    "word_freqs",
    "apply_merge",
    "learn_bpe_merges",
    "bpe_vocab_segments",
    "bpe_fertility",
]

MERGE_SCHEMA = "step INT, left STRING, right STRING, pair_count LONG"

# distributed loop: steps between lazy vocabulary checkpoints (a
# projection chain between checkpoints is re-analyzed, not re-shuffled)
_CKPT_EVERY = 6


def word_freqs(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq): the corpus collapsed to its word-frequency relation
    — BPE's working set. NULL text behaves as empty (repo convention)."""
    return (
        df.select(
            F.explode(
                word_tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def apply_merge(seq: Column, left: Column, right: Column) -> Column:
    """Rewrite a symbol array replacing adjacent (left, right) with
    left||right, greedy LEFT-TO-RIGHT NON-OVERLAPPING (the BPE rewrite:
    'l l l' with (l,l) becomes ['ll','l'], not ['l','ll']).

    Implemented as a one-pass fold with a {out, pend} accumulator: hold
    one symbol back; when the held symbol is `left` and the incoming is
    `right`, emit the merge and clear the hold (so the merged symbol is
    never reused as a new left — exactly the non-overlap rule). NULL
    left/right (no winning pair this step) folds as a no-op because the
    null-equals comparison fails into the shift branch."""
    out_t = "array<string>"
    init = F.struct(
        F.array().cast(out_t).alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        merged = acc["pend"].isNotNull() & (acc["pend"] == left) & (x == right)
        return F.when(
            acc["pend"].isNull(),
            F.struct(acc["out"].alias("out"), x.alias("pend")),
        ).otherwise(
            F.when(
                merged,
                F.struct(
                    F.concat(
                        acc["out"], F.array(F.concat(left, right))
                    ).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            ).otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    return F.aggregate(
        seq,
        init,
        step,
        lambda acc: F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
    )


def _rewrite_py(seq: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping rewrite — the Python twin
    of apply_merge's fold ('l l l' with (l,l) -> ['ll','l'])."""
    out, i, n = [], 0, len(seq)
    while i < n:
        if i + 1 < n and seq[i] == left and seq[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _learn_merges_py(
    vocab: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> tuple[list[tuple], int, int, int]:
    """Incremental Sennrich learner over the collapsed (word, freq)
    relation: pair->count map + pair->words inverted index + a
    lazy-deletion heap, so each merge step touches only the words that
    CONTAIN the winning pair (the original learn_bpe optimization) —
    total work is O(affected symbols), not O(|V| · n_merges).

    Semantics are bit-identical to _merge_loop (and therefore to the
    unrolled SQL twin): adjacent pairs are POSITION-counted
    (overlaps included, matching the transform-slice enumerator),
    the argmax order is (count desc, left asc, right asc) — the heap
    key (-count, left, right) encodes it directly, and Python's
    code-point string order equals Spark's UTF8 binary order — and the
    rewrite is greedy left-to-right non-overlapping.

    Returns (merges, n_words, total_freq, total_subwords) — the merge
    table plus the final-state totals bpe_fertility reports."""
    import heapq

    seqs = [list(w) for w, _ in vocab]
    freqs = [int(f) for _, f in vocab]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx, seq in enumerate(seqs):
        f = freqs[idx]
        for a, b in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + f
            where.setdefault((a, b), set()).add(idx)
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)

    merges: list[tuple] = []
    for step_no in range(1, n_merges + 1):
        # lazy deletion: every CURRENT count has a live heap entry
        # (pushed at its last update), and any entry above it claims a
        # higher count than its pair actually has — pop those stale
        # entries until the top is current; that top is the argmax
        # under (count desc, left asc, right asc).
        best = None
        while heap:
            nc, a, b = heap[0]
            cur = counts.get((a, b), 0)
            if -nc != cur:
                heapq.heappop(heap)
                continue
            if cur >= min_pair_count:
                best = (a, b, cur)
            break
        if best is None:
            break
        left, right, cnt = best
        merges.append((step_no, left, right, cnt))

        touched: dict[tuple[str, str], int] = {}
        for idx in sorted(where.get((left, right), ())):
            seq, f = seqs[idx], freqs[idx]
            for p in zip(seq, seq[1:]):
                touched[p] = touched.get(p, 0) - f
                s = where.get(p)
                if s is not None:
                    s.discard(idx)
            new_seq = _rewrite_py(seq, left, right)
            for p in zip(new_seq, new_seq[1:]):
                touched[p] = touched.get(p, 0) + f
                where.setdefault(p, set()).add(idx)
            seqs[idx] = new_seq
        for p, delta in touched.items():
            if delta == 0:
                continue
            c = counts.get(p, 0) + delta
            if c <= 0:
                counts.pop(p, None)
            else:
                counts[p] = c
                heapq.heappush(heap, (-c, p[0], p[1]))

    total_freq = sum(freqs)
    total_subwords = sum(len(s) * f for s, f in zip(seqs, freqs))
    return merges, len(seqs), total_freq, total_subwords


def _collect_max_rows(override: int | None = None) -> int:
    """Vocabulary-row ceiling for the driver-side learner (r13,
    VERDICT #4). Above this, collecting would pull an unbounded
    relation to the driver — at 100 TB of noisy text the
    "Heaps-bounded" vocabulary can plausibly reach 1e8+ rows and OOM
    the driver — so the public entry points COUNT the word-frequency
    relation first and fall back to the distributed loop (1 row per
    step to the driver) when it exceeds this. Default 20M rows ≈ a few
    GB of driver working set for the Python learner (collect +
    char-seq index); override per call or via
    $SPARK_GRAFT_BPE_COLLECT_MAX for bigger drivers."""
    if override is not None:
        return int(override)
    import os

    return int(
        os.environ.get("SPARK_GRAFT_BPE_COLLECT_MAX", str(20_000_000))
    )


def _gated_wf(
    df: DataFrame,
    text_col: str,
    collect_max_rows: int | None,
) -> tuple[DataFrame, bool]:
    """(persisted word-frequency relation, fits on the driver): the shared
    vocabulary-size gate. ONE corpus pass: the persist is filled by the
    gating count(), and both the heap learner's collect() and the
    fallback loop then scan cached vocabulary-sized blocks."""
    from model_audit_spark.persistence import track

    wf = track(word_freqs(df, text_col).persist())
    return wf, wf.count() <= _collect_max_rows(collect_max_rows)


def _heap_chain(
    wf: DataFrame,
    n_merges: int,
    text_col: str,
    min_pair_count: int,
    memo_key=None,
) -> tuple[list[tuple], int, int, int]:
    """Collect the (word, freq) relation and learn the chain
    driver-side (_learn_merges_py).

    The vocabulary is Heaps-law bounded (~1e6-1e7 rows at 100 TB, tens
    of MB as (word, freq) pairs) and _gated_wf has measured it, so the
    collect is the same bounded-collect discipline as the k-means
    centroid and PQ codebook collects (similarity.py) — and learning
    merges over the collapsed relation driver-side is how production
    tokenizer trainers work. One job replaces n_merges sequential
    Spark jobs (pure scheduling latency at any data size — the
    per-step DATA is vocabulary-sized).

    `memo_key`: when set, the learned chain is memoized via
    persistence.memo_obj keyed (table-key, n_merges, text_col,
    min_pair_count), so bpe_fertility reuses the chain
    learn_bpe_merges already learned in the same session batch;
    release_all() (the bench isolation hook) clears it."""
    def build():
        return _learn_merges_py(
            [(r["word"], r["freq"]) for r in wf.collect()],
            n_merges,
            min_pair_count,
        )

    if memo_key is None:
        return build()
    from model_audit_spark import persistence

    return persistence.memo_obj(
        ("bpe_chain", memo_key, n_merges, text_col, min_pair_count),
        build,
    )


def _merge_loop(
    wf: DataFrame, n_merges: int, min_pair_count: int
) -> tuple[list[tuple], DataFrame]:
    """Distributed merge loop over the cached (word, freq) relation —
    the path above the vocabulary-size gate. Per step the winning pair
    comes back to the driver as ONE row (the same O(rounds) tiny-action
    discipline as pagerank's convergence count, cluster.py) and the
    rewrite becomes a LITERAL-parameterized projection — no broadcast
    exchange, no join. Rewrites between checkpoints re-evaluate at most
    _CKPT_EVERY-1 fold layers during the next step's aggregate;
    vocabulary-sized, no extra shuffle. Early exhaustion exits the loop
    directly (the driver sees the null row).

    Returns (merge rows, final vocabulary (word, seq, freq))."""
    vocab = wf.select(
        "word", F.split(F.col("word"), "").alias("seq"), "freq"
    ).localCheckpoint(eager=False)
    merges: list[tuple] = []
    for step_no in range(1, n_merges + 1):
        best = (
            vocab.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(seq, 1, size(seq) - 1), "
                        "(s, i) -> struct(s as l, seq[i + 1] as r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .filter(F.col("cnt") >= min_pair_count)
            # min_by over the sortable struct (-cnt, l, r) encodes
            # (count desc, left asc, right asc) in ONE aggregate; a
            # global agg always emits one row (null fields when
            # exhausted)
            .agg(
                F.min_by(
                    F.struct(F.col("l"), F.col("r"), F.col("cnt")),
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("l"),
                        F.col("r"),
                    ),
                ).alias("b")
            )
            .select("b.l", "b.r", "b.cnt")
        ).first()
        if best is None or best["l"] is None:
            break
        merges.append(
            (step_no, best["l"], best["r"], int(best["cnt"]))
        )
        vocab = vocab.select(
            "word",
            apply_merge(
                F.col("seq"), F.lit(best["l"]), F.lit(best["r"])
            ).alias("seq"),
            "freq",
        )
        if step_no % _CKPT_EVERY == 0:
            vocab = vocab.localCheckpoint(eager=False)
    return merges, vocab


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 64,
    text_col: str = "text",
    min_pair_count: int = 2,
    memo_key=None,
    collect_max_rows: int | None = None,
) -> DataFrame:
    """(step, left, right, pair_count): the first `n_merges` BPE merges
    learned from the corpus (step 1-based). Stops early (emits fewer
    rows) when no adjacent pair reaches `min_pair_count` — mirrored in
    the SQL twin, so early exhaustion is hash-checked too.

    The "fits the driver" decision is MEASURED (r13, VERDICT #4): the
    word-frequency relation is persisted and counted first; at or below
    `collect_max_rows` (default 20M, see _collect_max_rows) the heap
    learner runs over the collected vocabulary, above it the
    distributed loop runs over the counted relation's cached blocks.
    `memo_key` shares the learned chain with bpe_fertility (see
    _heap_chain)."""
    wf, fits = _gated_wf(df, text_col, collect_max_rows)
    if fits:
        merges = _heap_chain(
            wf, n_merges, text_col, min_pair_count, memo_key
        )[0]
    else:
        merges, _ = _merge_loop(wf, n_merges, min_pair_count)
    return df.sparkSession.createDataFrame(merges, MERGE_SCHEMA)


def bpe_vocab_segments(
    df: DataFrame,
    n_merges: int = 64,
    text_col: str = "text",
    min_pair_count: int = 2,
    top_k: int | None = None,
    memo_key=None,
    collect_max_rows: int | None = None,
) -> DataFrame:
    """(word, freq, segments, n_subwords): the APPLICATION half of BPE —
    how the learned merges segment every corpus word, i.e. the actual
    subword tokenization plus the per-word fertility (n_subwords; its
    freq-weighted mean is the tokenizer-fertility metric that prices
    training compute). `top_k` bounds output to the most frequent words
    ((freq desc, word asc) — deterministic).

    Gated like learn_bpe_merges. Below the gate the driver-learned
    chain is applied as n_merges LITERAL apply_merge folds in one
    projection over the persisted word-frequency relation — no per-step
    jobs; above it the distributed loop's final vocabulary IS the
    segmentation. Composing the same ordered rewrites over the same
    initial character sequences gives identical output either way."""
    wf, fits = _gated_wf(df, text_col, collect_max_rows)
    if fits:
        merges = _heap_chain(
            wf, n_merges, text_col, min_pair_count, memo_key
        )[0]
        seq = F.split(F.col("word"), "")
        for _step, left, right, _cnt in merges:
            seq = apply_merge(seq, F.lit(left), F.lit(right))
        vocab = wf.select("word", seq.alias("seq"), "freq")
    else:
        _, vocab = _merge_loop(wf, n_merges, min_pair_count)
    out = vocab.select(
        "word",
        "freq",
        F.array_join("seq", " ").alias("segments"),
        F.size("seq").cast("int").alias("n_subwords"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.desc("freq"), F.asc("word")
        ).limit(int(top_k))
    return out


def bpe_fertility(
    df: DataFrame,
    n_merges: int = 64,
    text_col: str = "text",
    min_pair_count: int = 2,
    memo_key=None,
    collect_max_rows: int | None = None,
) -> DataFrame:
    """One-row FINAL-STATE certificate of a long merge chain:
    (n_merges_done, n_words, total_freq, total_subwords,
    mean_fertility) — the freq-weighted token-per-word ratio that
    prices training compute, plus exact-integer state totals. A hash
    match on this row certifies the end state of all n_merges rewrites
    without emitting the vocabulary (the r4 concern that certifying 64
    unrolls needs 64-step output rows: it doesn't — the totals pin the
    final state).

    Gated like learn_bpe_merges. Below the gate the totals come from
    the heap learner's final state, computed from the SAME learned
    chain as learn_bpe_merges when `memo_key` matches (re-learning it
    was the r5 perf finding); above it they aggregate the distributed
    loop's final vocabulary. The division/round is one Spark
    expression on both branches, so rounding is engine-identical."""
    wf, fits = _gated_wf(df, text_col, collect_max_rows)
    if fits:
        merges, n_words, total_freq, total_subwords = _heap_chain(
            wf, n_merges, text_col, min_pair_count, memo_key
        )
        if n_words == 0:
            # empty corpus: SQL sum() over zero rows is NULL, not 0
            # (DETERMINISM.md rule 7) — same as the aggregate branch
            total_freq = total_subwords = None
        totals = df.sparkSession.createDataFrame(
            [(n_words, total_freq, total_subwords)],
            "n_words LONG, total_freq LONG, total_subwords LONG",
        )
    else:
        merges, vocab = _merge_loop(wf, n_merges, min_pair_count)
        totals = vocab.agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("total_freq"),
            F.sum(F.size("seq") * F.col("freq"))
            .cast("long")
            .alias("total_subwords"),
        )
    return totals.select(
        F.lit(len(merges)).cast("int").alias("n_merges_done"),
        "n_words",
        "total_freq",
        "total_subwords",
        F.round(
            F.col("total_subwords")
            / F.greatest(F.col("total_freq"), F.lit(1)),
            6,
        ).alias("mean_fertility"),
    )
