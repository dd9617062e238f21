"""Corpus text-analysis operators over the `documents` table (scale
extension, BASELINE.json north star): language ID, quality scoring, token
counting, document fingerprinting.

Everything is a single projection of built-in SQL expressions (one scan, no
shuffle) except the bottom-k sketch which adds a per-doc array sort of a
fixed-width hashed shingle list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from model_audit_spark.functions.text import (
    detect_lang,
    ngrams,
    strip,
    word_tokens,
    words,
)
from model_audit_spark.operators.dedup import shingles_from_tokens
from model_audit_spark.operators.similarity import sql_ident, sql_str
from model_audit_spark.persistence import track

# A GPT2-ish byte-pair-encoding pre-tokenizer approximation: contractions,
# letter runs, digit runs, punctuation runs, whitespace runs.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"

# Compact English stopword list for the stopword-ratio quality signal.
STOPWORDS = [
    "the", "a", "an", "and", "or", "but", "of", "to", "in", "on", "for",
    "with", "at", "by", "from", "is", "are", "was", "were", "be", "it",
    "this", "that", "as", "not", "no",
]
_STOP_SQL = ", ".join(sql_str(w) for w in STOPWORDS)


def token_count_ws(text_col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(text_col))


def token_count_bpe(text_col: Column | str) -> Column:
    """BPE-ish token count via regexp matches (proxy for LLM token cost)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_PATTERN))


DOC_STAT_NAMES = (
    "n_chars",
    "n_words",
    "n_tokens",
    "n_bpe_tokens",
    "mean_word_len",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "lang_pred",
)


def with_doc_stats(
    df: DataFrame,
    text_col: str = "text",
    names: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Append the requested doc-stat columns, single-tokenization — the
    watermark-fusion discipline (functions/text.with_watermark_signals).

    Fused: inlining the word_tokens() regexp tokenizer into several
    lambda-bearing trees (stop_hits' filter, mean_wlen's array_join)
    defeats Spark's subexpression elimination, which SKIPS expressions
    containing LambdaVariables, so one quality_score evaluation
    re-tokenized the text up to 4x per row (the measured exp-0.79
    per-row constant on the Heaps/Zipf 100x tier, SCALE.md r10). Here
    each non-cheap producer (token array, whitespace-word array, the
    stopword-hit count, the joined-length, the punct ratio) is
    materialized as a named `_ds_*` column in its own projection;
    CollapseProject keeps a multiply-referenced non-cheap alias as a
    stage-local value computed once, all inside one WholeStageCodegen —
    no shuffle, no extra pass. Only the producers the requested `names`
    actually need are staged. The per-stat arithmetic is SQL text parsed
    once per column (one py4j call each instead of a DSL call per
    operator).
    """
    names = list(DOC_STAT_NAMES) if names is None else list(names)
    unknown = set(names) - set(DOC_STAT_NAMES)
    if unknown:
        raise ValueError(f"with_doc_stats: unknown stat(s) {sorted(unknown)}")
    clash = [
        n for n in df.columns if n in names or n.startswith("_ds_")
    ]
    if clash:
        raise ValueError(
            "with_doc_stats: input frame already has reserved "
            f"column(s): {clash}"
        )
    need = set(names)
    c = F.col(text_col)
    t = sql_ident(text_col)
    out = df
    stage1: dict[str, Column] = {}
    need_toks = need & {
        "n_tokens", "mean_word_len", "stopword_ratio", "quality_score"
    }
    need_words = need & {"n_words", "quality_score"}
    if need_toks:
        stage1["_ds_t"] = word_tokens(c)
    if need_words:
        stage1["_ds_w"] = words(c)
    if stage1:
        out = out.withColumns(stage1)

    stage2: dict[str, str] = {}
    if need_toks:
        stage2["_ds_nt"] = "size(_ds_t)"
        if need & {"stopword_ratio", "quality_score"}:
            stage2["_ds_sh"] = f"size(filter(_ds_t, w -> w IN ({_STOP_SQL})))"
        if need & {"mean_word_len", "quality_score"}:
            stage2["_ds_jl"] = "length(array_join(_ds_t, ''))"
    if need_words:
        stage2["_ds_nw"] = "size(_ds_w)"
    if need & {"punct_ratio", "quality_score"}:
        stage2["_ds_pr"] = (
            f"(length({t}) - length(translate({t}, '.,;:!?', ''))) "
            f"/ greatest(length({t}), 1)"
        )
    if stage2:
        out = out.withColumns({k: F.expr(v) for k, v in stage2.items()})

    tot = "greatest(_ds_nt, 1)"
    mean_wlen = f"_ds_jl / {tot}"
    stat_sql = {
        "n_chars": f"length({t})",
        "n_words": "_ds_nw",
        "n_tokens": "_ds_nt",
        "mean_word_len": f"round({mean_wlen}, 6)",
        "punct_ratio": "round(_ds_pr, 6)",
        "stopword_ratio": f"round(_ds_sh / {tot}, 6)",
        "quality_score": (
            "round(least(greatest((_ds_nw - 20) / 80.0D, 0.0D), 1.0D) * 0.25D"
            f" + least(_ds_sh / {tot} / 0.3D, 1.0D) * 0.25D"
            f" + CASE WHEN {mean_wlen} >= 3.0D AND {mean_wlen} <= 8.0D"
            " THEN 1.0D ELSE 0.0D END * 0.25D"
            " + CASE WHEN _ds_pr <= 0.1D THEN 1.0D ELSE 0.0D END * 0.25D, 6)"
        ),
    }
    final: dict[str, Column] = {}
    for name in names:
        if name == "n_bpe_tokens":
            final[name] = token_count_bpe(c)
        elif name == "lang_pred":
            final[name] = detect_lang(c)
        else:
            final[name] = F.expr(stat_sql[name])
    return out.withColumns(final).select(*df.columns, *names)


def doc_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc text statistics + composite quality score in [0,1].

    quality_score blends (equal weights): length adequacy (20..400 words),
    stopword ratio (healthy band around natural prose), mean word length in
    the 3..8 band, and punctuation sanity (<= 0.1). Deterministic, documented
    here as the engine's own quality metric (the reference has none).
    Fused single-tokenization path (with_doc_stats).
    """
    return with_doc_stats(
        df.select(F.col(id_col), F.col(text_col)), text_col
    ).drop(text_col)


def doc_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sketch_k: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Content fingerprint + bottom-k shingle sketch per document.

    - content_fp: md5 of the whitespace-normalized lowercase text (robust to
      formatting-only edits).
    - sketch: the k lexicographically-smallest md5(shingle) digests joined
      with '|' — a fixed-width near-dup sketch (bottom-k minhash variant).
    """
    c = F.col(text_col)
    normalized = F.regexp_replace(F.lower(strip(c)), r"\s+", " ")
    # tokens/shingles staged as named columns so lambdas reference an
    # attribute, not the tokenizer subtree (avoids O(n²) re-evaluation).
    staged = df.select(
        F.col(id_col),
        F.md5(normalized).alias("content_fp"),
        word_tokens(c).alias("_w"),
    ).select(
        id_col, "content_fp", shingles_from_tokens("_w", shingle_n).alias("_sh")
    )
    hashed = F.transform(F.col("_sh"), F.md5)
    sketch = F.array_join(F.slice(F.array_sort(hashed), 1, sketch_k), "|")
    return staged.select(
        F.col(id_col), "content_fp", sketch.alias("sketch")
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 500,
    overlap: int = 50,
) -> DataFrame:
    """Sliding-window document chunking (RAG / context-window prep):
    fixed-size character chunks with overlap, (id, chunk_idx, chunk_text,
    chunk_len) one row per chunk.

    stride = chunk_chars - overlap; chunk i covers
    [i*stride, i*stride + chunk_chars); the last chunk may be short, and
    a doc shorter than one chunk yields exactly one chunk (empty/NULL
    docs yield none). Character-based so it is tokenizer-agnostic and a
    pure expression — sequence + substring transform + explode, no UDF,
    no shuffle; at 100 TB this is scan-speed row expansion (~len/stride
    output rows per doc).
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(c)
    # 1 chunk when the doc fits; else enough strides that the last chunk's
    # [start, start+chunk_chars) window reaches the end. floor((n-1)/stride)
    # over-counts: a tail shorter than the overlap is already covered by
    # the previous chunk and must not spawn a redundant chunk.
    n_chunks = (
        F.when(n == 0, F.lit(0))
        .when(n <= chunk_chars, F.lit(1))
        .otherwise(
            F.floor((n - chunk_chars - 1) / stride).cast("int") + 2
        )
    )
    # cap: chunks starting at/after len contribute nothing; the floor form
    # already guarantees start < len for every i in [0, n_chunks)
    idx = F.sequence(
        F.lit(0),
        n_chunks - 1,
    )
    chunks = F.when(n_chunks == 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: c.substr(i * stride + 1, F.lit(chunk_chars)))
    )
    out = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    )
    return out.select(
        id_col,
        "chunk_idx",
        "chunk_text",
        F.length("chunk_text").alias("chunk_len"),
    )


def quality_calibrated(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    keep_frac: float = 0.5,
) -> DataFrame:
    """Per-group quality percentile calibration: rank each document's
    quality WITHIN its group (source/domain) and keep the top
    `keep_frac` — the standard fix for global thresholds systematically
    wiping out whole domains whose quality distribution sits lower
    (web text vs academic text).

    q_rank = percent_rank over (group, quality desc, id) — the unique
    tiebreak makes it partitioning-independent; keep = percent_rank <
    keep_frac computed on the UNROUNDED rank (the displayed q_rank is
    rounded to 6dp for cross-engine hashing, but thresholding on the
    rounded value would flip rows whose true rank falls within 5e-7
    below keep_frac — invisible in small groups, a real divergence in
    million-row groups). Strict <, so keep_frac=0.5 keeps just under
    half of each group plus the top row. One window over one scan;
    groups are domains (small cardinality), so no skew beyond group
    size itself.
    """
    from pyspark.sql import Window

    stats = doc_stats(df, text_col, id_col).select(
        id_col, "quality_score"
    )
    base = df.select(id_col, group_col).join(stats, id_col)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    pr = F.percent_rank().over(w)
    return base.select(
        id_col,
        group_col,
        "quality_score",
        F.round(pr, 6).alias("q_rank"),
        (pr < keep_frac).alias("keep"),
    )


def source_data_card(
    df: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    chars_col: str = "n_chars",
) -> DataFrame:
    """(source, n_docs, total_chars, exact_dup_frac, en_frac,
    mean_quality): the per-source "data card" row a corpus release ships.

    ONE hash aggregate over ONE scan: every signal is either a plain
    aggregate or a per-row projection (the quality score) folded into
    the group state; the exact-dup rate rides the same aggregate as a
    single-column distinct count (two-phase partial distinct — no expand
    explosion, shuffle carries (source, md5) pairs). At 100 TB this is
    the cheapest possible shape for a whole-corpus report: scan once,
    shuffle fixed-width state per (source, digest).
    """
    digest = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    staged = with_doc_stats(df, text_col, names=["quality_score"])
    q = F.col("quality_score")
    return (
        staged.groupBy(F.col(stratum_col).alias("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(chars_col).cast("bigint").alias("total_chars"),
            F.round(
                F.lit(1.0)
                - F.countDistinct(digest) / F.count("*"),
                6,
            ).alias("exact_dup_frac"),
            F.round(
                F.avg(
                    F.when(F.col(lang_col) == "en", 1.0).otherwise(0.0)
                ),
                6,
            ).alias("en_frac"),
            F.round(F.avg(q), 6).alias("mean_quality"),
        )
        .orderBy("source")
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Vocabulary coverage report per group: build the global top-V
    token vocabulary and measure each source's out-of-vocabulary rate —
    the "will a tokenizer trained on this mix cover that source" signal
    (high OOV rate = the source's token distribution is poorly
    represented in the corpus-wide vocabulary; fertility blows up and
    so does training cost).

    Output: (group, n_tokens, oov_tokens, oov_rate, n_types, oov_types,
    oov_type_rate) — occurrence-weighted AND type-weighted rates (a
    source can have low token-OOV but a long tail of unseen types).

    Shape at scale: ONE tokenize pass persisted as (group, token)
    occurrences; global counts aggregate it (map-side combine), the
    top-V cut is a TakeOrdered-style limit by (count desc, token asc) —
    deterministic tie-break — and the V-row vocabulary broadcasts back
    into a per-group conditional aggregate. No corpus-sized shuffle
    carries text; the two aggregates carry fixed-width counts. NULL
    text behaves as empty (repo convention): contributes no tokens but
    the group keeps its row via the outer aggregate."""
    # explode_OUTER: a group whose docs are all NULL/empty still keeps
    # a row (tok NULL), honoring the NULL-text-as-empty convention
    # persisted: the occurrence relation feeds BOTH the global top-V
    # vocabulary aggregate and the per-group OOV aggregate; tracked so
    # persistence.release_all() (or the harness's clearCache()) drops it
    occ = track(df.select(
        F.col(group_col),
        F.explode_outer(
            word_tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("tok"),
    ).persist())
    vocab = (
        occ.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc("tok"))
        .limit(int(vocab_size))
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    tagged = occ.join(F.broadcast(vocab), "tok", "left")
    oov = F.col("tok").isNotNull() & F.col("_in_vocab").isNull()
    by_group = tagged.groupBy(group_col).agg(
        F.count("tok").alias("n_tokens"),
        F.sum(F.when(oov, 1).otherwise(0)).cast("long").alias("oov_tokens"),
        F.countDistinct("tok").alias("n_types"),
        F.countDistinct(F.when(oov, F.col("tok"))).alias("oov_types"),
    )
    return by_group.select(
        group_col,
        "n_tokens",
        "oov_tokens",
        F.round(
            F.col("oov_tokens") / F.greatest("n_tokens", F.lit(1)), 6
        ).alias("oov_rate"),
        "n_types",
        "oov_types",
        F.round(
            F.col("oov_types") / F.greatest("n_types", F.lit(1)), 6
        ).alias("oov_type_rate"),
    ).orderBy(group_col)


def quality_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (
        0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8,
    ),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(threshold, n_kept, frac_kept, mean_quality_kept): the retention
    curve of the quality filter — how many docs (and of what average
    quality) survive each cutoff, from ONE scan (the
    dedup_threshold_sweep pattern: score once, theta-join the 7-row
    broadcast threshold relation, aggregate per threshold).

    Determinism: the per-doc score is already 6dp-rounded, so
    round(q·1e6) is an EXACT micro-unit integer; comparisons and the
    kept-sum run on BIGINTs, and the emitted ratios are raw doubles
    from exact-integer divisions (identical inputs → identical doubles
    in every engine — DETERMINISM.md safe pattern, no engine round).
    At 100 TB this is one corpus scan + a 7-key aggregate; the decision
    table a filtering run consults before committing to a cutoff."""
    spark = df.sparkSession
    # q_micro is coalesced NON-NULLABLE: the theta join below would
    # otherwise infer isnotnull(q_micro), and Catalyst pushes that
    # Filter below the staged projections by SUBSTITUTING the aliases —
    # re-inlining the whole quality tree (7 tokenizer subtrees measured)
    # and defeating the single-tokenization staging. NULL-text docs map
    # to -1, which fails every threshold exactly as NULL failed the
    # theta predicate — values and oracle unchanged.
    q = with_doc_stats(
        df.select(F.col(text_col)), text_col, names=["quality_score"]
    ).select(
        F.coalesce(
            F.round(F.col("quality_score") * 1e6).cast("long"),
            F.lit(-1).cast("long"),
        ).alias("q_micro")
    )
    total = q.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    t = spark.createDataFrame(
        [(float(x),) for x in thresholds], "threshold DOUBLE"
    ).select(
        "threshold",
        F.round(F.col("threshold") * 1e6).cast("long").alias("t_micro"),
    )
    per = (
        q.join(F.broadcast(t), F.col("q_micro") >= F.col("t_micro"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("q_micro").cast("long").alias("_sum_micro"),
        )
    )
    return (
        t.select("threshold")
        .join(per, "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            (
                F.coalesce(F.col("n_kept"), F.lit(0))
                / F.greatest(F.col("n_total"), F.lit(1))
            ).alias("frac_kept"),
            F.when(
                F.col("n_kept") > 0,
                F.col("_sum_micro") / (F.col("n_kept") * F.lit(1e6)),
            ).alias("mean_quality_kept"),
        )
        .orderBy("threshold")
    )


# Keyword taxonomy for coarse domain routing. Keys MUST stay in the
# lexicographic order the argmax cascade uses for tie-breaking (earlier
# domain wins a tie); the lists are token-exact matches against
# word_tokens (lowercased \\w+ runs).
DOMAIN_TAXONOMY: dict[str, list[str]] = {
    "ml": ["vector", "value", "data", "fast", "slow", "big", "small"],
    "query": ["query", "filter", "scan", "join", "sort", "group", "agg"],
    "storage": ["table", "column", "row", "part", "line", "key", "hash"],
    "streaming": ["stream", "batch", "window", "merge"],
}


def classify_domains(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    taxonomy: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Dictionary-routed domain classification — the cheap first-pass
    router every corpus mixer runs before anything model-based: count
    token hits per domain vocabulary, argmax with a deterministic
    lexicographic tie-break, 'none' when nothing matches.

    Scale shape: a pure per-row projection. One tokenize pass; each
    domain's hit count is an in-row array filter against a literal
    vocabulary (the dictionaries are part of the plan — no join, no
    shuffle, no broadcast needed at ANY corpus size). The argmax is a
    static CASE cascade over the per-domain counts, so the whole
    classifier fuses into whole-stage codegen with the scan.
    """
    tax = taxonomy if taxonomy is not None else DOMAIN_TAXONOMY
    names = sorted(tax)
    # repo-wide convention: NULL text behaves as empty
    toks = word_tokens(F.coalesce(F.col(text_col), F.lit("")))
    out = df.select(
        id_col,
        "source",
        toks.alias("__toks"),
    )
    def _in_vocab(vocab):
        # single-param closure: a two-param lambda would be read by
        # F.filter as the (element, index) form
        return lambda t: F.array_contains(vocab, t)

    for d in names:
        vocab = F.array(*[F.lit(t) for t in tax[d]])
        out = out.withColumn(
            f"hits_{d}",
            F.size(F.filter("__toks", _in_vocab(vocab))),
        )
    hit_cols = [F.col(f"hits_{d}") for d in names]
    best = F.when(
        sum(hit_cols[1:], hit_cols[0]) == 0, F.lit("none")
    )
    for i, d in enumerate(names[:-1]):
        cond = F.lit(True)
        for later in names[i + 1:]:
            cond = cond & (F.col(f"hits_{d}") >= F.col(f"hits_{later}"))
        best = best.when(cond, F.lit(d))
    best = best.otherwise(F.lit(names[-1]))
    return out.select(
        id_col,
        "source",
        best.alias("domain"),
        F.greatest(*hit_cols).alias("best_hits"),
        F.size("__toks").alias("n_tokens"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word shingles whose GLOBAL first occurrence (min doc id) is this
    doc — "how much genuinely new text does each doc contribute", the
    marginal-value signal corpus curators read before paying to keep a
    source (the same first-occurrence attribution RETSim/dedup papers
    use to size the unique core of a crawl).

    Scale shape: one tokenize+shingle pass, one explode, one
    groupBy(shingle hash) with a map-side-combining min — the canonical
    first-occurrence shuffle, keyed by the shingle so skew follows
    shingle frequency (boilerplate shingles collapse into single
    combiner rows, they do not fan out). The shuffle key is the
    60-BIT md5 PREFIX of the shingle, not the string: the exchange at
    100x pushes ~27M (gram, id) rows, and a BIGINT key cuts per-row
    bytes several-fold vs the variable-width gram text (measured
    74.7 -> 31.9 s at the Heaps/Zipf 100x tier, SCALE.md r10). The
    oracle twin truncates identically, so the mirror is exact by
    construction; the semantic deviation from full-gram distinctness
    is a 60-bit birthday bound (~3e-4 expected collisions at 27M
    distinct grams — none observable at any tested scale).

    Returns (id, n_shingles, n_novel) — novelty = n_novel/n_shingles.
    n_novel is PROBABILISTIC, not exact: "the same shingle" means "the
    same 60-bit md5 prefix", so two distinct grams colliding in 60 bits
    are counted as one (birthday bound above; the oracle twin truncates
    identically). For an exact-key small-corpus run, group on the gram
    string itself — the dedup module's shingles_df output is the exact
    relation.
    """
    from model_audit_spark.operators.dedup import shingles_df

    # persist: BOTH the explode leg and the per-doc totals leg read this
    # relation — un-persisted (the r1-r9 shape) each leg re-tokenized
    # and re-shingled the full corpus (one extra corpus pass, ~36 s of
    # the 79 s wall at the Heaps/Zipf 100x tier)
    sh = track(
        shingles_df(df, text_col, id_col, shingle_n=shingle_n).persist()
    )
    expl = sh.select(id_col, F.explode("sh").alias("_g")).select(
        id_col,
        F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10)
        .cast("long")
        .alias("g"),
    )
    firsts = expl.groupBy("g").agg(F.min(id_col).alias("first_id"))
    novel = firsts.groupBy(F.col("first_id").alias(id_col)).agg(
        F.count("*").alias("n_novel")
    )
    totals = sh.select(id_col, F.size("sh").alias("n_shingles"))
    return totals.join(novel, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Corpus collocations by integer-exact lift: for each adjacent
    word pair, lift = P(xy)/(P(x)P(y)) = c_xy·N / (c_x·c_y) — the
    association strength PMI exponentiates — evaluated as
    c_xy·N·1e6 DIV (c_x·c_y) in BIGINTs, so there is no ln() ulp
    exposure at all (DETERMINISM.md failure mode 3 avoided, not
    mitigated). Pairs below min_count are pruned before the join.

    Scale: one tokenize pass feeds both the unigram and bigram counts
    (two map-side-combining aggregates over the same exploded
    relations); the unigram relation (|vocab| rows) joins back twice.
    Top-k via TakeOrdered on (lift DESC, bigram ASC). The lift product
    runs in DECIMAL(38,0) (HUGEINT on the DuckDB twin): the old BIGINT
    intermediate overflowed once c_xy·N passed ~9.2e12 — measured as an
    ARITHMETIC_OVERFLOW at the 27M-token Heaps/Zipf 100× corpus. The
    QUOTIENT (<= N·1e6/min_count) still fits BIGINT to ~9e12-token
    corpora per run; shard beyond that.
    """
    # persist: the unigram and bigram aggregates BOTH read this relation
    # (track without persist re-tokenized the corpus per consumer, and
    # each consumer's inferred non-empty filter re-inlined the tokenizer
    # into a pushed Filter — 3 heavy pushed filters in the r9 plan)
    toks = track(
        df.select(
            F.col(id_col), word_tokens(F.col(text_col)).alias("_w")
        ).persist()
    )
    uni = toks.select(F.explode("_w").alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    n_total = uni.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    bi = (
        toks.select(F.explode(ngrams("_w", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    parts = bi.select(
        "bigram",
        "c_xy",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    joined = (
        parts.join(uni.withColumnRenamed("c", "c_x"), parts.w1 == uni.w)
        .drop("w")
        .join(
            uni.withColumnRenamed("c", "c_y").withColumnRenamed("w", "w_"),
            F.col("w2") == F.col("w_"),
        )
        .drop("w_")
        .crossJoin(F.broadcast(n_total))
    )
    scored = joined.select(
        "bigram",
        "c_xy",
        "c_x",
        "c_y",
        # DECIMAL(38) intermediates: c_xy·N·1e6 overflows BIGINT past
        # ~1e13 of product (measured: ARITHMETIC_OVERFLOW at the 27M-token
        # Heaps/Zipf 100x corpus); the QUOTIENT always fits BIGINT
        # (lift <= N·1e6/min_count). DuckDB twin uses HUGEINT — both
        # divisions are exact integral on positive operands.
        F.expr(
            "CAST(CAST(c_xy AS DECIMAL(38,0)) * n_tokens * 1000000"
            " DIV (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"
        ).alias("lift_ppm"),
    )
    top = scored.orderBy(F.desc("lift_ppm"), F.asc("bigram")).limit(top_k)
    w = Window.orderBy(F.desc("lift_ppm"), F.asc("bigram"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "bigram",
        "c_xy",
        "c_x",
        "c_y",
        "lift_ppm",
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
    min_docs: int = 3,
) -> DataFrame:
    """Term-level vocabulary drift between two corpus snapshots: for
    each term, the document-frequency SHARE in each snapshot (ppm,
    integer-exact) and the shift |new − old| — the "what changed in
    this crawl" report that PSI-style feature drift (corpus_drift)
    cannot answer at the term granularity.

    Shares are df·1e6 DIV n_docs per side, computed from one distinct-
    (doc, term) explode per snapshot (map-side combine on the term);
    terms below min_docs total df are pruned before the full-outer
    term join. Top-k by (|delta| DESC, term ASC) via TakeOrdered.
    """

    def _df_counts(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        toks = df.select(
            F.col(id_col),
            F.array_distinct(
                word_tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("_w"),
        )
        # explode_outer + null-drop: a plain explode makes
        # InferFiltersFromGenerate push a size(_w) > 0 filter whose
        # alias substitution re-builds the token array per row
        counts = (
            toks.select(F.explode_outer("_w").alias("term"))
            .filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count("*").alias("df"))
        )
        n = df.select(
            F.count("*").cast("bigint").alias("n_docs")
        )
        return counts, n

    oc, on_ = _df_counts(old)
    nc, nn = _df_counts(new)
    joined = (
        oc.withColumnRenamed("df", "df_old")
        .join(nc.withColumnRenamed("df", "df_new"), "term", "full_outer")
        .select(
            "term",
            F.coalesce("df_old", F.lit(0)).alias("df_old"),
            F.coalesce("df_new", F.lit(0)).alias("df_new"),
        )
        .filter(F.col("df_old") + F.col("df_new") >= min_docs)
        .crossJoin(F.broadcast(on_.withColumnRenamed("n_docs", "n_old")))
        .crossJoin(F.broadcast(nn.withColumnRenamed("n_docs", "n_new")))
    )
    scored = joined.select(
        "term",
        "df_old",
        "df_new",
        F.expr("df_old * 1000000 DIV n_old").alias("share_old_ppm"),
        F.expr("df_new * 1000000 DIV n_new").alias("share_new_ppm"),
    ).withColumn(
        "delta_ppm",
        F.col("share_new_ppm") - F.col("share_old_ppm"),
    )
    top = scored.orderBy(
        F.abs(F.col("delta_ppm")).desc(), F.asc("term")
    ).limit(top_k)
    w = Window.orderBy(F.abs(F.col("delta_ppm")).desc(), F.asc("term"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "term",
        "df_old",
        "df_new",
        "share_old_ppm",
        "share_new_ppm",
        "delta_ppm",
    )


def winnow_selected(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, pos, h): winnowing fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm) at token granularity — from every window
    of `window` consecutive `gram_k`-gram hashes, select the MINIMUM
    hash, rightmost position on ties; distinct selected (pos, h) are the
    document's fingerprints. Winnowing's guarantee: any shared run of
    window + gram_k - 1 tokens yields at least one shared fingerprint,
    while expected density is only 2/(window+1) of positions — a
    position-aware near-dup family between stride-1 span hashing (every
    position; span_dedup_stats) and bottom-k sketches (no positions;
    doc_fingerprints).

    ZERO-shuffle: the whole per-document selection is one array
    projection — gram hashes zip with 1-based positions into structs
    ordered (h, -pos), and each window start takes array_min of its
    slice (struct ordering makes min-with-rightmost-tie a single
    built-in); array_distinct collapses overlapping windows that picked
    the same position. No explode, no per-doc window shuffle — legal
    under Structured Streaming and free at 100 TB where a
    partitionBy(doc) window would re-shuffle the corpus. Docs with
    fewer than window + gram_k - 1 tokens emit no rows (no full
    window exists), matching the classic definition."""
    w = window
    toks = df.select(F.col(id_col), word_tokens(text_col).alias("_w"))
    grams = toks.select(
        id_col, F.transform(ngrams("_w", gram_k), F.md5).alias("_h")
    )
    n = F.size("_h")
    hp = F.zip_with(
        F.col("_h"),
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda h, p: F.struct(h.alias("h"), (-p).alias("negpos")),
    )
    staged = grams.select(id_col, n.alias("_n"), hp.alias("_hp"))
    # short docs are excluded by a when-guard that emits an EMPTY
    # selection (explode drops it), NOT a row filter: a .filter(n >= w)
    # here gets pushed below the gram projection with the alias
    # substituted, re-inlining the whole tokenize+gram+md5 pipeline
    # into the pushed Filter — 2x per-row evaluation, measured in the
    # optimized plan (the watermark-fusion pushdown defect).
    sel = F.when(
        F.col("_n") >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("_hp") - (w - 1)),
                lambda s: F.array_min(F.slice("_hp", s, w)),
            )
        ),
    ).otherwise(
        F.array().cast("array<struct<h:string,negpos:int>>")
    )
    return staged.select(
        id_col, F.explode(sel).alias("_s")
    ).select(
        id_col,
        (-F.col("_s.negpos")).cast("long").alias("pos"),
        F.col("_s.h").alias("h"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, n_grams, n_fp, density): per-document winnowing summary —
    fingerprint count and selected density. Winnowing theory pins
    expected density near 2/(window+1) for random text; a corpus whose
    density is far above it is repetitive (many local minima re-selected
    at window edges), far below means long boilerplate runs — the cheap
    per-doc signal for tuning `window` before running winnow_pairs.
    Every input doc keeps a row (short docs: n_fp = 0). Shape: the
    winnow projection + one hash aggregate."""
    sel = winnow_selected(df, text_col, id_col, gram_k, window)
    toks = df.select(F.col(id_col), word_tokens(text_col).alias("_w"))
    base = toks.select(
        id_col,
        F.greatest(
            F.size("_w") - (gram_k - 1), F.lit(0)
        ).cast("long").alias("n_grams"),
    )
    per = sel.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    return (
        base.join(per, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("n_fp"), F.lit(0))
            .cast("long")
            .alias("n_fp"),
            F.round(
                F.coalesce(F.col("n_fp"), F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("density"),
        )
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= min_shared
    distinct winnowing fingerprint HASHES — MOSS-style containment
    candidates: position-aware (a long verbatim run guarantees shared
    fingerprints) yet ~2/(window+1) the index size of stride-1 span
    hashing. n_shared is PROBABILISTIC, not exact: fingerprints are
    compared by their 60-bit md5 prefix, so two distinct grams
    colliding in 60 bits count as one shared hash (and can merge
    max_df buckets); the oracle twin truncates identically, and the
    birthday bound makes the effect unobservable below ~1e8 distinct
    grams. Exact-key runs on small corpora: group winnow_selected's
    full 32-hex `h` directly.

    Bucket-first, the same discipline as every candidate generator in
    this repo: distinct (doc, h) postings group by h, docs expand to
    in-bucket pairs (sorted list slice — the minhash_band_pairs shape),
    then one pair-count aggregate applies min_shared. `max_df` drops
    fingerprints present in more than max_df docs BEFORE expansion —
    boilerplate minima are exactly the hashes whose buckets would
    otherwise explode quadratically at 100 TB (None disables; the MOSS
    paper's "ignore overly common fingerprints" step).

    `max_df_frac` is the corpus-RELATIVE form of the cap
    (max_df = ceil(frac * n_docs), overriding `max_df` when set): an
    absolute cap silently tightens as the corpus grows — SCALE.md's
    100x sweep measured max_df=50 collapsing pair recall 8101 -> 1159
    on a 100x corpus because every gram's df outgrew the constant —
    while a fractional cap keeps "common" meaning the same share of
    documents at any scale. Costs one count() over the input (in-DAG
    via a 1-row cross join, no driver collect). Denominator choice: the
    count is over ALL input rows, including docs too short to yield any
    winnow fingerprint — the cap tracks corpus size, not fingerprinted
    size, so on corpora with many short/empty texts the effective cap is
    slightly looser than "frac share of fingerprinted docs" (the stable,
    cheaper contract: it never moves when the gram/window params
    change)."""
    # posting key = the 60-bit md5 PREFIX, not the 32-char hex string:
    # the distinct and the bucket groupBy push every posting through an
    # exchange, and a BIGINT key cuts per-row bytes ~4x. The oracle twin
    # truncates identically (_hex60) so the mirror stays exact by
    # construction; n_shared counts distinct truncated hashes (60-bit
    # birthday bound — no observable effect at any tested scale).
    posts = (
        winnow_selected(df, text_col, id_col, gram_k, window)
        .select(
            id_col,
            F.conv(F.substring("h", 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    buckets = posts.groupBy("h").agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("ids")
    )
    if max_df_frac is not None:
        n_docs = df.agg(
            F.count(F.lit(1)).cast("long").alias("_n_docs")
        )
        buckets = buckets.crossJoin(F.broadcast(n_docs)).filter(
            F.size("ids")
            <= F.ceil(F.lit(float(max_df_frac)) * F.col("_n_docs"))
        ).drop("_n_docs")
    elif max_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_df)
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_span_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
) -> DataFrame:
    """(id_a, id_b, n_shared, a_pos_min, a_pos_max, b_pos_min,
    b_pos_max): winnow_pairs plus WHERE the overlap sits — the extent
    (1-based gram positions) of the shared fingerprints inside each
    document. The triage view for MOSS-style matches: a tight span at
    the head of both docs reads as shared boilerplate; full-width spans
    read as wholesale duplication; disjoint extents with equal n_shared
    expose template reuse. Positions come free: the selected relation
    already carries them, so localization costs one extra min/max in
    the pair aggregate, not a re-scan.

    Shape: same bucket-first expansion as winnow_pairs, but the pair
    aggregate keys on the JOINED (a_pos, b_pos) posting pairs — shared
    hashes appearing at several positions contribute each position to
    the extent while n_shared still counts DISTINCT hashes (matching
    winnow_pairs exactly; pinned). Like winnow_pairs, n_shared and the
    extents are PROBABILISTIC under the 60-bit md5-prefix key — a
    collision merges two grams' postings (oracle twin truncates
    identically; birthday-bound negligible below ~1e8 distinct
    grams)."""
    # same 60-bit md5-prefix key narrowing as winnow_pairs (oracle
    # twin truncates identically)
    sel = winnow_selected(df, text_col, id_col, gram_k, window).select(
        id_col,
        "pos",
        F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("h"),
    )
    posts = sel.groupBy("h").agg(
        F.sort_array(
            F.collect_set(F.struct(F.col(id_col).alias("d"), "pos"))
        ).alias("dp"),
        F.size(F.collect_set(id_col)).alias("ndocs"),
    )
    if max_df is not None:
        posts = posts.filter(F.col("ndocs") <= max_df)
    dp = F.col("dp")
    pair_structs = F.flatten(
        F.transform(
            dp,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(dp, i + F.lit(2), F.size(dp)),
                    lambda y: y["d"] != x["d"],
                ),
                lambda y: F.struct(
                    x["d"].alias("id_a"),
                    y["d"].alias("id_b"),
                    x["pos"].alias("a_pos"),
                    y["pos"].alias("b_pos"),
                ),
            ),
        )
    )
    expanded = (
        posts.filter(F.col("ndocs") > 1)
        .select(F.col("h"), F.explode(pair_structs).alias("p"))
        .select("h", "p.id_a", "p.id_b", "p.a_pos", "p.b_pos")
    )
    return (
        expanded.groupBy("id_a", "id_b")
        .agg(
            F.countDistinct("h").cast("long").alias("n_shared"),
            F.min("a_pos").cast("long").alias("a_pos_min"),
            F.max("a_pos").cast("long").alias("a_pos_max"),
            F.min("b_pos").cast("long").alias("b_pos_min"),
            F.max("b_pos").cast("long").alias("b_pos_max"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def heaps_vocab_growth(
    df: DataFrame,
    n_checkpoints: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(checkpoint, id_cutoff, n_docs, n_tokens, vocab_size): the corpus
    vocabulary-growth curve — Heaps' law V ≈ K·n^β says vocab_size should
    grow sublinearly in n_tokens; a curve that bends UP signals encoding
    junk or synthetic-token pollution entering later shards, one that
    flattens hard signals heavy duplication. Checkpoint k covers docs
    with id <= max_id·k/n_checkpoints (integer arithmetic; the id order
    is the corpus's ingest order).

    Pure integer relation — exact across engines by construction.

    Shape at scale: ONE tokenize pass → (token, min id) aggregate (the
    first-occurrence relation; map-side combine, output bounded by
    vocabulary size) plus a per-doc token-count aggregate. Each is then
    cross-joined against the tiny checkpoint relation and re-aggregated
    on the checkpoint key — the corpus-sized relations shuffle once,
    fixed-width, and the checkpoint fan-out multiplies only the BOUNDED
    aggregate outputs, never raw text.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(
            word_tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("tok"),
    )
    first_seen = (
        toks.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.min("_id").alias("first_id"))
    )
    doc_tokens = toks.groupBy("_id").agg(
        F.sum(F.when(F.col("tok").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_toks")
    )
    cps = (
        df.agg(F.max(F.col(id_col)).cast("long").alias("_mx"))
        .select(
            F.explode(
                F.sequence(F.lit(1), F.lit(int(n_checkpoints)))
            ).alias("checkpoint"),
            "_mx",
        )
        .select(
            "checkpoint",
            F.expr(f"_mx * checkpoint DIV {int(n_checkpoints)}").alias(
                "id_cutoff"
            ),
        )
    )
    docs_at = (
        doc_tokens.crossJoin(F.broadcast(cps))
        .filter(F.col("_id") <= F.col("id_cutoff"))
        .groupBy("checkpoint", "id_cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    vocab_at = (
        first_seen.crossJoin(F.broadcast(cps))
        .filter(F.col("first_id") <= F.col("id_cutoff"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    return (
        docs_at.join(vocab_at, "checkpoint", "left")
        .select(
            "checkpoint",
            "id_cutoff",
            "n_docs",
            "n_tokens",
            F.coalesce("vocab_size", F.lit(0)).cast("long").alias(
                "vocab_size"
            ),
        )
        .orderBy("checkpoint")
    )


def zipf_slope(
    df: DataFrame,
    max_rank: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """One row (n_terms, zipf_slope): the log-log OLS slope of the
    rank-frequency curve over the corpus's top-`max_rank` tokens —
    natural language sits near -1 (Zipf's law); a much flatter slope
    flags templated/synthetic text, a much steeper one a degenerate
    boilerplate head.

    Bit-stability: ln(rank) and ln(freq) are quantized to integer
    nanonats; all four OLS sums (Σx, Σy, Σxy, Σx²) run in DECIMAL(38,0)
    — exact, order-free — and the final slope is one division of two
    exactly-agreed doubles. Ranking ties break (freq DESC, token ASC),
    so the top-`max_rank` cut is deterministic.

    Shape at scale: one tokenize pass → token-count aggregate (map-side
    combine, vocabulary-bounded output) → TakeOrdered max_rank rows →
    single-row reduction. Nothing corpus-sized shuffles.
    """
    counts = (
        df.select(
            F.explode(
                word_tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(int(max_rank))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = counts.select(
        F.row_number().over(w).alias("rank"), "freq"
    )
    x9 = F.round(F.ln("rank") * F.lit(1000000000.0), 0).cast(
        "decimal(38,0)"
    )
    y9 = F.round(F.ln("freq") * F.lit(1000000000.0), 0).cast(
        "decimal(38,0)"
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x9).alias("sx"),
        F.sum(y9).alias("sy"),
        F.sum(x9 * y9).alias("sxy"),
        F.sum(x9 * x9).alias("sxx"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
        ).alias("zipf_slope"),
    )


def boilerplate_templates(
    df: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    group_col: str = "source",
    min_count: int = 2,
) -> DataFrame:
    """(group, skeleton, n_lines, rank): the top-k most repeated LINE
    templates per source, after masking digit runs to '#' — the
    template miner that surfaces per-domain boilerplate (nav bars,
    footers, timestamps, cookie banners) which per-document dedup
    cannot see because every page differs by a counter or date.

    Skeleton: lower, digit runs → '#', inner whitespace collapsed,
    trimmed; blank skeletons dropped. Rank ties break (count DESC,
    skeleton ASC).

    Scale: explode lines → skeleton projection (in-row) → ONE
    (group, skeleton)-keyed count with map-side combine — boilerplate
    is repetitive by definition, so the combiner collapses the heavy
    keys before the shuffle; the per-group top-k window runs over the
    |distinct skeletons ≥ min_count| relation, not the corpus."""
    lines = df.select(
        F.col(group_col).alias("group"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("__line"),
    )
    skel = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("__line")), r"\p{N}+", "#"),
            r"\s+",
            " ",
        )
    )
    counts = (
        lines.select("group", skel.alias("skeleton"))
        .filter(F.length("skeleton") > 0)
        .groupBy("group", "skeleton")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") >= int(min_count))
    )
    w = Window.partitionBy("group").orderBy(
        F.desc("n_lines"), F.asc("skeleton")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .orderBy("group", "rank")
    )


def feature_correlations(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(feat_a, feat_b, n, pearson_r): exact-moment Pearson correlation
    between the integer document features (n_chars, n_tokens, n_types —
    distinct tokens) — the redundancy check run before feeding features
    to a quality model (near-1 pairs carry no signal; a length~quality
    feature pair near 0 flags a broken extractor).

    Bit-stability: all five moment sums run in DECIMAL(38,0) over exact
    integers; r = num / (sqrt(a)·sqrt(b)) computes each factor from an
    exact integer cast to double (sqrt is correctly rounded — identical
    on both engines), rounded once at emit. One corpus scan, one
    single-row aggregate; the pair expansion happens on that single row.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    feats = df.select(
        F.length(t).cast("long").alias("n_chars"),
        F.size(word_tokens(t)).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(word_tokens(t))).cast("long").alias(
            "n_types"
        ),
    )
    names = ["n_chars", "n_tokens", "n_types"]
    d38 = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast(d38).alias("n")]
    for a in names:
        aggs.append(F.sum(F.col(a).cast(d38)).alias(f"s_{a}"))
        aggs.append(
            F.sum(F.col(a).cast(d38) * F.col(a).cast(d38)).alias(
                f"ss_{a}"
            )
        )
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(
                F.sum(F.col(a).cast(d38) * F.col(b).cast(d38)).alias(
                    f"sp_{a}_{b}"
                )
            )
    mom = feats.agg(*aggs)
    # all pair rows explode out of the ONE aggregate row — a union of
    # per-pair selects would recompute the corpus aggregate per pair
    structs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            num = (
                F.col("n") * F.col(f"sp_{a}_{b}")
                - F.col(f"s_{a}") * F.col(f"s_{b}")
            ).cast("double")
            va = (
                F.col("n") * F.col(f"ss_{a}")
                - F.col(f"s_{a}") * F.col(f"s_{a}")
            ).cast("double")
            vb = (
                F.col("n") * F.col(f"ss_{b}")
                - F.col(f"s_{b}") * F.col(f"s_{b}")
            ).cast("double")
            structs.append(
                F.struct(
                    F.lit(a).alias("feat_a"),
                    F.lit(b).alias("feat_b"),
                    F.col("n").cast("long").alias("n"),
                    # r is undefined when either feature is constant
                    # (zero variance) — NULL, not a divide-by-zero
                    F.when(
                        (va > 0) & (vb > 0),
                        F.round(num / (F.sqrt(va) * F.sqrt(vb)), 6),
                    ).alias("pearson_r"),
                )
            )
    return (
        mom.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.feat_a", "p.feat_b", "p.n", "p.pearson_r")
        .orderBy("feat_a", "feat_b")
    )
