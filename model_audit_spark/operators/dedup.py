"""Corpus deduplication operators (scale extension, BASELINE.json north star).

- exact_dedup: full-text md5 grouping with deterministic keep-first markers.
- minhash: word-shingle MinHash + LSH banding. One md5 per *distinct* shingle
  (32-bit value from the first 8 hex digits), then k universal-hash
  permutations h_i(x) = (a_i·x + b_i) mod p with p the smallest prime > 2³²
  and fixed deterministic coefficients — portable to any SQL oracle and
  10-100× cheaper than hashing every shingle k times. Signatures are built
  explode → hash-aggregate (map-side partial min), NOT per-row array lambdas:
  at 100 TB the shuffle carries only (doc_id, 16×int64). Candidate pairs come
  from LSH band buckets via groupBy + in-bucket pair expansion (Σ bucket²
  work, no self-join recompute of the signature plan); candidates are then
  verified with exact Jaccard over distinct shingle sets.
- simhash: 32-bit SimHash over word tokens (per-bit sign of summed ±1 votes,
  token hash = first 8 md5 hex digits). Near-dup candidates = equal simhash
  (or banded bytes for hamming<k at scale).

Determinism note: intermediate token/shingle arrays are projected as named
columns in separate selects so lambda bodies reference an attribute, not the
tokenizer subtree — Catalyst's CollapseProject keeps multi-referenced
non-cheap expressions in their own projection, avoiding O(n²) re-evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from model_audit_spark.functions.text import ngrams, ngrams_sql, word_tokens
from model_audit_spark.operators.similarity import sql_ident, sql_num
from model_audit_spark.persistence import fill_caches_concurrently, track

# Smallest prime > 2^32; minhash permutation modulus and the sentinel
# signature value for documents with no shingles.
MINHASH_PRIME = 4294967311


def check_lsh_params(num_hashes: int, bands: int = 1) -> None:
    """Raise ValueError unless `bands` LSH bands split `num_hashes`
    MinHash values evenly (rows_per_band = num_hashes // bands >= 1, no
    value left out) — the entry check of every signing/banding
    operator."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if bands > num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} evenly"
        )


# In-bucket pair expansion over a sorted id array `ids`: every (x, y)
# with x before y, as (id_a, id_b) structs.
_PAIR_STRUCTS_SQL = (
    "flatten(transform(ids, (x, i) -> transform("
    "slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
)


def minhash_coeffs(num_hashes: int = 16) -> list[tuple[int, int]]:
    """Fixed (a, b) coefficients for h_i(x) = (a·x + b) mod MINHASH_PRIME.

    a < 2^30 keeps a·x < 2^62 for 32-bit x — no BIGINT overflow in Spark or
    DuckDB. Derived from Knuth/Weyl multiplicative constants; deterministic
    so Spark and the SQL oracle agree byte-for-byte."""
    return [
        (
            ((i * 2654435761 + 1013904223) % (1 << 30)) | 1,
            (i * 805306457 + 123456791) % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, text_hash, dup_group_size, is_first): keep-first exact dedup."""
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    w = Window.partitionBy("text_hash").orderBy(id_col)
    return hashed.select(
        id_col,
        "text_hash",
        F.count("*").over(Window.partitionBy("text_hash")).alias(
            "dup_group_size"
        ),
        (F.row_number().over(w) == 1).alias("is_first"),
    )


def shingles_from_tokens(tokens_col: str, n: int = 3) -> Column:
    """Distinct n-word shingles of the token-array column `tokens_col`
    (O(n) slice-zip form, one parsed expression)."""
    return F.expr(f"array_distinct({ngrams_sql(sql_ident(tokens_col), n)})")


def shingles_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] sh ARRAY<STRING>): distinct word shingles,
    tokenized once. `keep_cols` pass through untouched."""
    t = df.select(
        F.col(id_col), *keep_cols, word_tokens(text_col).alias("_w")
    )
    return t.select(
        id_col, *keep_cols, shingles_from_tokens("_w", shingle_n).alias("sh")
    )


def _minhash_sig_sql(sh_sql: str, num_hashes: int) -> str:
    """SQL text of the signature kernel of minhash_signatures: each
    shingle of the array `sh_sql` hashed once (first 8 md5 hex digits
    as a 32-bit int), folded into a struct of k running affine-
    permutation mins. NULL/empty arrays fold to the MINHASH_PRIME
    sentinel init."""
    coeffs = minhash_coeffs(num_hashes)
    hashes = (
        f"transform({sh_sql}, "
        "s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
    )
    init = ", ".join(
        f"CAST({MINHASH_PRIME} AS BIGINT) AS mh_{i}" for i in range(num_hashes)
    )
    step = ", ".join(
        f"least(acc.mh_{i}, ({a} * hv + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    return (
        f"aggregate(coalesce({hashes}, CAST(array() AS ARRAY<BIGINT>)), "
        f"struct({init}), (acc, hv) -> struct({step}))"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] mh_0..mh_{k-1} BIGINT): per-doc MinHash
    signature.

    ZERO-shuffle and stateless: the per-doc shingle array already exists
    (shingles_df keeps one row per doc), so the signature is a pure
    projection — one md5 per shingle → 32-bit int → k affine
    permutations folded into a running-min struct within the row
    (`aggregate`; min is order-independent so the result is
    bit-identical to a hash aggregate). The r1-r3 shape (explode →
    k-column min groupBy → restore join) shuffled the whole (id, hash)
    relation and rescanned df for empty docs; docs with no shingles now
    fold straight to the MINHASH_PRIME sentinel init (> any hash value),
    so they keep a row and identical empty docs still band-match (their
    pairs are later killed by jaccard_verify's 0-jaccard filter). With
    no explode, shuffle or state it is also legal under Structured
    Streaming — the signing step of
    streaming.streaming_near_dup_candidates. The md5 per shingle is
    evaluated once (the hash array is the aggregate's input, referenced
    once; the k-field struct expansion below stays a separate projection
    because CollapseProject keeps non-cheap multi-referenced expressions
    un-inlined).

    `keep_cols` pass through untouched (e.g. the event-time column a
    streaming caller needs for its watermark); a supplied `shingles`
    relation must carry them.

    `shingles` (a shingles_df relation, ideally persisted) lets the
    sign→band→verify chain tokenize the corpus ONCE: pass the same
    relation here and to jaccard_verify and the second tokenize+shingle
    pass disappears (at 100 TB, one full corpus scan saved; persist
    spills to disk via MEMORY_AND_DISK, or checkpoint it on a real
    cluster).

    CONTRACT: when supplied, `shingles` must hold exactly one row per
    `df` row (shingles_df over the SAME df, unfiltered) — the output is
    a projection of `shingles`, so docs present in df but missing from
    the relation get no signature row (unlike the r1-r3 shape, which
    left-joined back to df and emitted sentinel rows for them). Every
    in-repo caller passes the full shingles_df; a caller that filters
    the relation must re-join against df itself if it needs the
    one-row-per-doc guarantee.

    Construction: the hash, the k-way fold and the k-field split are
    each ONE parsed SQL string (_minhash_sig_sql, `_sig.*`), not a
    Python loop of Column calls — each DSL call is a py4j round trip,
    and the 16-way fold and split cost ~780 of them per signing.
    Parsed and DSL forms analyze to the same plan (pinned by
    test_minhash_sql_text_equals_dsl_construction)."""
    check_lsh_params(num_hashes)
    rel = (
        shingles
        if shingles is not None
        else shingles_df(df, text_col, id_col, shingle_n, keep_cols)
    )
    with_sig = rel.select(
        id_col, *keep_cols,
        F.expr(_minhash_sig_sql("sh", num_hashes) + " AS _sig"),
    )
    return with_sig.select(id_col, *keep_cols, "_sig.*")


def lsh_band_rows(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] band, bh): one row per LSH band of each
    signature — the join-able form of the signature relation (banding
    scheme of minhash_band_pairs; reference parity note at
    minhash_signatures). `keep_cols` pass through untouched (e.g. the
    event-time column a streaming caller's watermark needs) — this is
    the ONE implementation of the banding scheme; the streaming probe
    and the persisted index must never diverge from it."""
    check_lsh_params(num_hashes, bands)
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(
            f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        + ")) AS bh)"
        for b in range(bands)
    )
    return sigs.select(
        id_col, *keep_cols, F.expr(f"explode(array({band_structs})) AS bb")
    ).select(id_col, *keep_cols, "bb.*")


def minhash_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate pairs sharing at least one LSH band (id_a < id_b).

    groupBy(band, band_hash) → sorted id list → in-bucket pair expansion:
    one shuffle, Σ bucket² pair rows, and the signature plan is evaluated
    once (a self-join would recompute it per side). At 100 TB a pathological
    bucket (e.g. boilerplate shingles) shows up as skew here; cap it upstream
    by filtering ultra-common shingles before signing if needed."""
    check_lsh_params(num_hashes, bands)
    exploded = lsh_band_rows(sigs, id_col, num_hashes, bands)
    buckets = (
        exploded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.expr(f"explode({_PAIR_STRUCTS_SQL}) AS p"))
        .select("p.*")
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs, exact over shingle sets.

    The exploded shingle relation is corpus-sized; it is semi-joined down
    to ids that appear in a candidate pair BEFORE the intersection join,
    so the heavy join shuffles only candidate documents' shingles (pairs
    ≪ corpus after LSH banding).

    0-jaccard pairs (e.g. empty-doc sentinel band collisions from
    minhash_signatures) are ALWAYS dropped: the filter is `> 0` when
    min_jaccard == 0, `>= min_jaccard` otherwise.

    `shingles`: pass the SAME (ideally persisted) shingles_df relation
    given to minhash_signatures and the whole sign→band→verify chain
    tokenizes the corpus once (see minhash_signatures).

    Shape (r12): the intersection is computed PER PAIR as
    `size(array_intersect(sh_a, sh_b))` over the per-doc distinct-shingle
    ARRAYS — two candidate-bounded joins attach each side's array and the
    count is a per-row expression. The r1-r11 shape exploded candidate
    docs' shingles and re-joined on (id, shingle) into a count aggregate;
    profiled at sf0.1 that explode→string-equi-join→hashAgg chain was the
    single hottest stage of every verify consumer (~4s CPU/task × 32
    uniform), while the array form does the same |A ∩ B| work inside one
    projection with no exploded shuffle and no aggregate. Exactness is
    unchanged: the arrays are already distinct, so
    size(array_intersect) == the join count row for row. At 100 TB both
    shapes move candidate docs' shingle bytes once; this one moves them
    as one array row per doc instead of |sh| exploded rows."""
    # referenced by the id_a and id_b join sides and the final output —
    # persist so the banding plan beneath it runs once
    pairs = track(pairs.persist())
    rel = (
        shingles
        if shingles is not None
        # internally-built relation is referenced by both join sides —
        # persist so the tokenize+shingle subtree runs once (candidate
        # callers pass a persisted relation already)
        else track(shingles_df(df, text_col, id_col, shingle_n).persist())
    )
    sh_a = rel.selectExpr(f"{sql_ident(id_col)} AS id_a", "sh AS _sh_a")
    sh_b = rel.selectExpr(f"{sql_ident(id_col)} AS id_b", "sh AS _sh_b")
    n_inter = "coalesce(size(array_intersect(_sh_a, _sh_b)), 0)"
    out = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"round({n_inter} / greatest(size(_sh_a) + size(_sh_b) - "
                f"{n_inter}, 1), 6) AS jaccard"
            ),
        )
    )
    if min_jaccard > 0:
        return out.filter(f"jaccard >= {sql_num(min_jaccard)}")
    return out.filter("jaccard > 0")


def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Persist the corpus LSH index as (id, band, bh) parquet partitioned
    by band — the continuous-ingestion layout: each new batch probes the
    index instead of re-signing the corpus (at 100 TB, re-signing is a
    full scan; the index is ~bands rows × ~50 B per doc, appended per
    ingest batch with the same coefficients)."""
    check_lsh_params(num_hashes, bands)
    rows = lsh_band_rows(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    )
    rows.write.mode("overwrite").partitionBy("band").parquet(path)


def minhash_index_append(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Append a new batch's band rows to an existing minhash index —
    the per-ingest step of the continuous loop: probe the index
    (incremental_dedup_pairs), keep the non-dups, APPEND their rows so
    the next batch sees them. Same parameters as the original
    minhash_index_write (the coefficients are deterministic, so appended
    rows are comparable by construction). Partition layout preserved."""
    check_lsh_params(num_hashes, bands)
    rows = lsh_band_rows(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    )
    rows.write.mode("append").partitionBy("band").parquet(path)


def minhash_index_read(spark, path: str) -> DataFrame:
    """Read a minhash_index_write layout; filters on `band` prune whole
    partition directories (partition pruning, not row skipping)."""
    return spark.read.parquet(path)


def incremental_dedup_pairs(
    batch: DataFrame,
    index_bands: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """(id_new, id_idx, jaccard): new-batch docs that near-duplicate an
    already-indexed doc — the continuous-ingestion dedup step.

    Only the BATCH is shingled and signed (batch ≪ corpus); its band rows
    equi-join the persisted index on (band, bh) — a key-partitioned join
    whose shuffle carries batch-sized band rows, never the corpus.
    Jaccard verification then semi-joins the corpus' shingle relation
    down to just the matched index docs (jaccard_verify's candidate
    discipline), so corpus text is touched only for candidates. Batch
    docs matching each OTHER are not reported here — run the normal
    in-batch minhash_band_pairs for that half (cheap: batch²).

    The index must have been built with the same num_hashes/bands/
    shingle_n/coefficients (minhash_coeffs is deterministic)."""
    check_lsh_params(num_hashes, bands)
    idc = sql_ident(id_col)
    batch_rows = lsh_band_rows(
        minhash_signatures(batch, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    ).selectExpr(f"{idc} AS id_new", "band", "bh")
    idx_rows = index_bands.selectExpr(f"{idc} AS id_idx", "band", "bh")
    cand = (
        batch_rows.join(idx_rows, ["band", "bh"])
        .filter("id_new != id_idx")
        .selectExpr("id_new AS id_a", "id_idx AS id_b")
        .distinct()
    )
    # no .persist() here: jaccard_verify persists the pair relation it
    # receives, which covers the idx_ids derivation below too
    # Reduce the corpus to matched index docs BEFORE unioning — a
    # corpus-wide distinct here would be a 100 TB shuffle; after the
    # semi-join both sides are candidate-sized. dropDuplicates(id) then
    # tolerates callers whose batch overlaps the corpus relation.
    idx_ids = cand.selectExpr(f"id_b AS {idc}").distinct()
    corpus_cand = corpus.select(id_col, text_col).join(
        idx_ids, id_col, "left_semi"
    )
    both = corpus_cand.unionByName(
        batch.select(id_col, text_col)
    ).dropDuplicates([id_col])
    return jaccard_verify(
        both, cand, text_col, id_col, shingle_n, min_jaccard
    ).selectExpr("id_a AS id_new", "id_b AS id_idx", "jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for ALL pairs with exact n-gram Jaccard >=
    min_jaccard — no MinHash approximation (reference has no counterpart;
    this is the exact member of the dedup family, vs the LSH-candidate
    minhash path).

    `shingles`: a pre-built shingles_df relation to reuse (the
    minhash_signatures injection pattern) — the caller owns its
    persist/release lifecycle; None builds and tracks one internally.

    Candidate generation is a shingle inverted index: groupBy(shingle) →
    sorted posting list → in-bucket pair expansion, so the shingle relation
    is scanned once and pair work is Σ |postings|² over shared shingles —
    never an all-pairs self-join. A pair with jaccard > 0 shares ≥1 shingle,
    so the index is complete for any min_jaccard > 0.

    max_df is the 100 TB skew cap: shingles appearing in more than max_df
    documents (boilerplate) are dropped from candidate generation AND
    intersection counting, making the result a documented lower bound on
    true Jaccard. Leave None for exact semantics (the oracle-checked form).
    """
    if min_jaccard <= 0:
        raise ValueError("min_jaccard must be > 0 (index covers jaccard > 0)")
    # consumed by both sizes and the posting-list aggregate — persist so the
    # tokenize+shingle subtree runs once (SCALE.md rule 3); tracked for
    # persistence.release_all()
    shing = (
        shingles
        if shingles is not None
        else track(shingles_df(df, text_col, id_col, shingle_n).persist())
    )
    sizes = shing.select(F.col(id_col).alias("_id"), F.size("sh").alias("n_sh"))
    postings = (
        shing.select(F.col(id_col), F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_df is not None:
        postings = postings.filter(F.size("ids") <= max_df)
    # a pair occurs once per shared shingle → count(*) == |A ∩ B|
    inter = (
        postings.select(F.expr(f"explode({_PAIR_STRUCTS_SQL}) AS p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / F.greatest(
                    F.col("n_a") + F.col("n_b") - F.col("n_inter"), F.lit(1)
                ),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _rare_prefix_postings(
    shing: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id, _n, _rn, s): each doc's |S| − ⌈threshold·|S|⌉ + 1
    globally-RAREST shingles — the prefix-filter posting relation shared
    by the Jaccard and containment joins (one source of truth for the
    pruning-safety invariant). Doc size rides the explode projection
    (size before the generator — zero extra cost), so the rarity rank
    ((df, s) order) is the ONE window pass; the 1e-9 epsilon keeps
    exact-integer products from ceiling up a slot. `_rn` (the shingle's
    1-based rank in the doc's rarity order) is kept for PPJoin's
    POSITIONAL filter: a candidate met at ranks (i, j) can share at most
    1 + min(|A|−i, |B|−j) shingles, a lossless upper bound the pair
    expansion prunes on before any verification.

    r13 (guide §2.4): the per-shingle document frequency comes from
    `count(*) over (partition by s)` instead of a groupBy(s) aggregate
    joined back — the join's SMJ already co-located and sorted the
    exploded relation by s, so the aggregate, the freq exchange and the
    join were three extra operators computing what one window pass over
    the same exchange yields (A/B sf0.1: 1.92 → 1.47 s, row-identical).
    Tradeoff, stated honestly: the window BUFFERS one shingle's group
    where SMJ streams it — a boilerplate shingle's group spills to disk
    in the one task that co-location sends it to either way; the
    rare-first prefix then discards those rows downstream."""
    expl_n = shing.select(
        F.col(id_col), F.size("sh").alias("_n"), F.explode("sh").alias("s")
    )
    dfw = expl_n.withColumn(
        "_df", F.count("*").over(Window.partitionBy("s"))
    )
    wdoc = Window.partitionBy(id_col).orderBy("_df", "s")
    prefix_len = (
        F.col("_n") - F.ceil(F.col("_n") * threshold - 1e-9) + 1
    )
    return (
        dfw.withColumn("_rn", F.row_number().over(wdoc))
        .filter(F.col("_rn") <= prefix_len)
        .select(F.col(id_col), "_n", "_rn", "s")
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT-equal results to ngram_jaccard_pairs with far fewer
    candidates: prefix filtering (PPJoin's core idea). For Jaccard ≥ t a
    pair must share ≥ ⌈t·|A|⌉ shingles, so each doc only needs to index
    its |A| − ⌈t·|A|⌉ + 1 rarest shingles (global rare-first order —
    any total order is correct; rarest-first makes posting lists short).
    Candidates come from the PREFIX inverted index only; the exact
    intersection then runs candidate-bounded. The hash-oracle twin is
    the full all-pairs SQL — a match certifies zero lost pairs.

    Scale: the posting relation shrinks from Σ|sh| rows to Σ prefix
    sizes (≈ (1−t)·Σ|sh|), and crucially the boilerplate shingles that
    cause Σ|postings|² blowups are exactly the FREQUENT ones, which the
    rare-first prefix rarely includes — the skew hedge falls out of the
    algorithm instead of needing a max_df cap.

    `shingles`: a pre-built shingles_df relation to reuse (caller owns
    its lifecycle); None builds and tracks one internally."""
    if not (0 < min_jaccard <= 1):
        raise ValueError("min_jaccard must be in (0, 1]")
    shing = (
        shingles
        if shingles is not None
        else track(shingles_df(df, text_col, id_col, shingle_n).persist())
    )
    pre = _rare_prefix_postings(shing, id_col, min_jaccard)
    # (r12) posting entries carry (size, rank) so the in-bucket
    # expansion can apply PPJoin's POSITIONAL filter before the
    # distinct: a pair met at rarity ranks (ra, rb) shares at most
    # 1 + min(|A|−ra, |B|−rb) shingles, while Jaccard ≥ t requires
    # ⌈t/(1+t)·(|A|+|B|)⌉ shared — both bounds exact, so the pruning is
    # lossless (the all-pairs oracle twin pins it). Measured sf0.1:
    # 409k candidate pairs → 125k before any verify work.
    buckets = (
        pre.groupBy("s")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct(
                        F.col(id_col).alias("i"),
                        F.col("_n").alias("n"),
                        F.col("_rn").alias("r"),
                    )
                )
            ).alias("es")
        )
        .filter(F.size("es") > 1)
    )
    es = F.col("es")
    pair_structs = F.flatten(
        F.transform(
            es,
            lambda x, i: F.transform(
                F.slice(es, i + F.lit(2), F.size(es)),
                lambda y: F.struct(
                    x["i"].alias("id_a"),
                    y["i"].alias("id_b"),
                    x["n"].alias("na"),
                    y["n"].alias("nb"),
                    x["r"].alias("ra"),
                    y["r"].alias("rb"),
                ),
            ),
        )
    )
    alpha = F.ceil(
        (F.col("na") + F.col("nb"))
        * F.lit(min_jaccard / (1.0 + min_jaccard))
        - 1e-9
    )
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .filter(ubound >= alpha)
        .select("id_a", "id_b")
        .distinct()
    )
    # per-pair exact verify on the distinct-shingle ARRAYS (the r12
    # jaccard_verify shape): two candidate-bounded joins attach each
    # side's array; size(array_intersect) equals the r11 exploded
    # (id, shingle) join count row for row, with no exploded shuffle
    # and no count aggregate.
    n_inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cand.join(
            shing.select(
                F.col(id_col).alias("id_a"), F.col("sh").alias("_sh_a")
            ),
            "id_a",
        )
        .join(
            shing.select(
                F.col(id_col).alias("id_b"), F.col("sh").alias("_sh_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter
                / F.greatest(
                    F.size("_sh_a") + F.size("_sh_b") - n_inter,
                    F.lit(1),
                ),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def containment_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_containment: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, containment): every pair with
    |A∩B| / min(|A|, |B|) ≥ min_containment (id_a < id_b) — the
    ASYMMETRIC near-dup: one document embedded in a larger one
    (boilerplate-wrapped mirrors, quote-inflated pages, doc+appendix
    re-crawls). Jaccard-targeted LSH structurally MISSES these — a
    small doc inside a big one has containment 1.0 but Jaccard
    |S|/|L| ≈ 0, so it never band-collides.

    Candidates by ONE-SIDED prefix filtering: under a global rare-first
    shingle order, containment ≥ t with S the smaller side forces S's
    first |S| − ⌈t·|S|⌉ + 1 shingles to hit L's FULL set (if the whole
    prefix missed, the remaining |S| − prefix_len < t·|S| shingles
    could not cover the required intersection). So every doc's PREFIX
    posting joins the FULL inverted index, keeping only
    (smaller, larger) role pairs via (n_sh, id) struct order. The full
    posting list of a rare prefix shingle is short by construction —
    PPJoin's skew hedge carries over; the boilerplate shingles with
    quadratic posting lists almost never enter a rare-first prefix.
    Exact candidate-bounded verify; the oracle twin is the full
    all-pairs SQL, so a hash match certifies the pruning lost nothing.

    Cache lifecycle (the triangle_counts convention): `shing` and `cand`
    persist because the verify stage reads each of them from multiple
    join branches — without the persist the tokenize+shingle subtree
    executes once per branch (a repeated full-corpus pass at 100 TB).
    They are registered with persistence.track(), so callers evaluating
    many queries in one session release them via
    persistence.release_all() (the gate harness's clearCache() between
    queries does the same); on a real cluster, checkpoint `shing`
    instead to also truncate lineage. `shingles`: a pre-built
    shingles_df relation to reuse (caller owns its lifecycle); None
    builds and tracks one internally.
    """
    if not (0 < min_containment <= 1):
        raise ValueError("min_containment must be in (0, 1]")
    shing = (
        shingles
        if shingles is not None
        else track(shingles_df(df, text_col, id_col, shingle_n).persist())
    )
    pre = _rare_prefix_postings(shing, id_col, min_containment).select(
        F.col(id_col).alias("_id_s"),
        F.col("_n").alias("_n_s"),
        "s",
    )
    fullp = shing.select(
        F.col(id_col).alias("_id_l"),
        F.size("sh").alias("_n_l"),
        F.explode("sh").alias("s"),
    )
    cand = track(
        pre.join(fullp, "s")
        .filter(
            F.struct(F.col("_n_s"), F.col("_id_s"))
            < F.struct(F.col("_n_l"), F.col("_id_l"))
        )
        .select(
            F.least("_id_s", "_id_l").alias("id_a"),
            F.greatest("_id_s", "_id_l").alias("id_b"),
        )
        .distinct()
        .persist()
    )
    # per-pair exact verify on the distinct-shingle ARRAYS (the r12
    # jaccard_verify shape): two candidate-bounded joins attach each
    # side's array; size(array_intersect) equals the r11 exploded
    # (id, shingle) join count row for row, with no exploded shuffle
    # and no count aggregate.
    n_inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    cont = F.round(
        n_inter
        / F.greatest(
            F.least(F.size("_sh_a"), F.size("_sh_b")), F.lit(1)
        ),
        6,
    )
    return (
        cand.join(
            shing.select(
                F.col(id_col).alias("id_a"), F.col("sh").alias("_sh_a")
            ),
            "id_a",
        )
        .join(
            shing.select(
                F.col(id_col).alias("id_b"), F.col("sh").alias("_sh_b")
            ),
            "id_b",
        )
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= min_containment)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs with hamming(simhash) <= max_distance.

    Banded LSH self-join, not an O(n²) cross join: the simhash splits
    into `bands` chunks and only ids sharing a (band, value) bucket are
    candidate-joined — by pigeonhole every pair within distance
    `bands - 1` shares at least one intact band, so the default (4, 3)
    is exact-complete. The exact bit_count(xor) filter then prunes
    bucket collisions. At scale the join shuffles on (band, value)
    buckets whose sizes the banding bounds, same shape as
    minhash_band_pairs; boilerplate-heavy corpora can cap bucket sizes
    with skew.frequency_capped_explode upstream."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    # persist the simhash aggregate (1 row/doc): both sides of the banded
    # self-join read it, and without this the full tokenize + 32-vote
    # hash-agg subtree executes once PER SIDE (verified: 2 FileScans, no
    # ReusedExchange) — a second full-corpus pass at 100 TB.
    sh = track(simhash(df, text_col, id_col, bits).persist())
    banded = sh.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(mask)
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("_id", "simhash", "b.band", "b.bv")
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bv"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bv"
    )
    cand = (
        left.join(right, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash BIGINT): 32-bit SimHash over word tokens.

    Token hash = conv(first 8 md5 hex chars) — portable to SQL oracles.
    One explode + one hash aggregate; the 32 per-bit votes are aggregate
    expressions, not row blowup."""
    toks = df.select(
        F.col(id_col), F.explode_outer(word_tokens(text_col)).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    hashed = toks.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.col("tok").isNull(), 0)
            .when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sim = sum(
        (
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(0).cast("long")
            for i in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def paragraph_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    skew_safe: bool = False,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the RefinedWeb / MassiveText
    "repeated passages" tier): every paragraph occurrence that is not the
    GLOBAL first occurrence of its content is a removal candidate.

    First occurrence = min(struct(doc_id, pos)) over the paragraph's md5 —
    deterministic under any partitioning (no float, no tie ambiguity).

    Output per doc: (id, n_paras, n_dup_paras, n_removed, keep_frac) where
    n_dup_paras counts occurrences whose content appears >1 time in the
    corpus and n_removed counts occurrences losing the global-first race.

    Plan shape at scale — two formulations, same result (pinned in
    tests):
    - skew_safe=False (default): posexplode -> md5 -> window over the
      digest (count + row_number share ONE exchange) -> per-doc
      aggregate. ONE scan of the text column, but a window group holds
      ALL occurrences of its digest in one task's sort buffer — wrong
      when a boilerplate paragraph ("All rights reserved.") occurs 10^8
      times.
    - skew_safe=True: ONE hash aggregate keyed on the digest computes
      (count, min(struct(doc_id, pos))) with map-side partial combine —
      hot digests collapse to fixed-width state, no per-occurrence
      buffering — then joins back to the occurrence relation (digest
      build side = distinct digests; the hot probe side streams). Costs
      a second split/digest scan unless the caller persists; at 100 TB
      prefer this form whenever paragraph frequency is heavy-tailed.
    """
    from pyspark.sql import Window

    paras = F.filter(
        F.transform(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n{2,}"),
                    lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    occ = df.select(
        F.col(id_col), F.posexplode(paras).alias("pos", "para")
    ).select(id_col, "pos", F.md5("para").alias("h"))
    if skew_safe:
        firsts = occ.groupBy("h").agg(
            F.count("*").alias("n_total"),
            F.min(F.struct(id_col, "pos")).alias("first"),
        )
        ranked = occ.join(firsts, "h").select(
            id_col,
            "n_total",
            F.when(
                (F.col(f"first.{id_col}") == F.col(id_col))
                & (F.col("first.pos") == F.col("pos")),
                F.lit(1),
            ).otherwise(F.lit(2)).alias("rn"),
        )
    else:
        wh = Window.partitionBy("h")
        ranked = occ.select(
            id_col,
            F.count("*").over(wh).alias("n_total"),
            F.row_number()
            .over(wh.orderBy(id_col, "pos"))
            .alias("rn"),
        )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_paras"),
            F.sum((F.col("n_total") > 1).cast("int")).alias("n_dup_paras"),
            F.sum((F.col("rn") > 1).cast("int")).alias("n_removed"),
        )
        .select(
            id_col,
            "n_paras",
            "n_dup_paras",
            "n_removed",
            F.round(
                (F.col("n_paras") - F.col("n_removed"))
                / F.greatest(F.col("n_paras"), F.lit(1)),
                6,
            ).alias("keep_frac"),
        )
    )


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
) -> DataFrame:
    """Verbatim-span duplication stats (the exact-substring dedup tier of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", relationally approximated): a token position is DUPLICATED
    when the `span_tokens`-gram starting there occurs anywhere else in
    the corpus (other doc, or elsewhere in the same doc).

    Output per doc: (id, n_spans, n_dup_spans, dup_span_frac). Documents
    shorter than span_tokens are emitted with n_spans = 0 (explode_outer
    keeps their null-gram row), so the relation covers every input doc.

    Relational shape (vs the paper's suffix array, which is not a
    distributed-friendly structure): every position's n-gram is hashed
    (stride 1 — positions, not distinct shingles) and counted corpus-wide
    in ONE hash aggregate; the per-position relation then left-joins the
    counts on the digest and the dup flag is just `cnt > 1`. No broadcast
    hint: at 100 TB the duplicated-digest set is itself billions of rows,
    so a mandatory broadcast would OOM — the unhinted shuffle join on `h`
    reuses the aggregate's hash partitioning, and AQE still downgrades to
    broadcast when the counts side happens to be small. Shuffle carries
    (digest, count) fixed-width state; the position explode is
    ~n_tokens rows/doc — the price of stride-1 exactness, the reason the
    default span is 20 not 3.
    """
    toks = df.select(F.col(id_col), word_tokens(text_col).alias("_w"))
    grams = toks.select(
        F.col(id_col), F.explode_outer(ngrams("_w", span_tokens)).alias("g")
    ).select(id_col, F.md5("g").alias("h"))
    counts = (
        grams.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
    )
    flagged = grams.join(counts, "h", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("h").alias("n_spans"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("bigint")
            .alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans") / F.greatest(F.col("n_spans"), F.lit(1)),
                6,
            ).alias("dup_span_frac"),
        )
    )


def top_boilerplate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 5,
    k: int = 20,
) -> DataFrame:
    """(span, n_occurrences, n_docs, first_doc): the k most-repeated
    verbatim token spans — the human-readable boilerplate report that
    decides span-dedup/max_df policy (license headers, nav chrome,
    template sentences).

    One explode + ONE hash aggregate keyed on the span TEXT (map-side
    partial combine; the shuffle key is ~span_tokens·word bytes rather
    than a 16-byte digest — carrying the text in the aggregate beats the
    digest-then-join-back form, which would need a second pass over the
    gram relation to recover printable spans). Top-k via TakeOrdered on
    (count desc, span asc) — never a global sort."""
    toks = df.select(F.col(id_col), word_tokens(text_col).alias("_w"))
    grams = toks.select(
        F.col(id_col), F.explode(ngrams("_w", span_tokens)).alias("g")
    )
    agg = grams.groupBy("g").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct(F.col(id_col)).alias("n_docs"),
        F.min(F.col(id_col)).alias("first_doc"),
    )
    return (
        agg.filter(F.col("n_occurrences") > 1)
        .select(
            F.col("g").alias("span"),
            "n_occurrences",
            "n_docs",
            "first_doc",
        )
        .orderBy(F.desc("n_occurrences"), F.asc("span"))
        .limit(k)
    )


def paragraph_relation(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(pid STRING, para STRING): one row per non-empty trimmed
    paragraph, pid = '<doc_id>:<0-based position>' — the paragraph-
    granular unit relation the near-dup chain runs over (same \\n{2,}
    split + trim + drop-empty convention as paragraph_dedup_stats)."""
    paras = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n{2,}"),
            lambda x: F.trim(x),
        ),
        lambda x: x != F.lit(""),
    )
    return df.select(
        F.col(id_col), F.posexplode(paras).alias("pos", "para")
    ).select(
        F.concat_ws(
            ":",
            F.col(id_col).cast("string"),
            F.col("pos").cast("string"),
        ).alias("pid"),
        "para",
    )


def paragraph_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id_a, id_b, jaccard) over PARAGRAPHS (ids are pid strings) —
    the fuzzy tier of passage-level dedup. paragraph_dedup_stats
    catches byte-identical repeated passages; this catches the
    lightly-edited ones (dates bumped, entities swapped) that
    boilerplate templates generate at corpus scale, exactly where
    document-level Jaccard stays low because the wrapper text differs.

    Pure composition of the certified chain (shingles → zero-shuffle
    minhash fold → band pairs → exact Jaccard verify) over the
    paragraph relation instead of documents: one tokenize pass over
    the exploded paragraphs (persisted, tracked), everything downstream
    identical — so the scale properties (banded candidates, candidate-
    bounded verify) carry over unchanged, just at ~paragraphs/doc
    higher row count in the unit relation."""
    paras = paragraph_relation(df, text_col, id_col)
    shing = track(
        shingles_df(paras, "para", "pid", shingle_n).persist()
    )
    sigs = minhash_signatures(
        paras, "para", "pid", num_hashes, shingle_n, shingles=shing
    )
    pairs = minhash_band_pairs(sigs, "pid", num_hashes)
    return jaccard_verify(
        paras, pairs, "para", "pid", shingle_n,
        min_jaccard=min_jaccard, shingles=shing,
    )


def dedup_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    simhash_bits: int = 32,
    simhash_bands: int = 4,
    simhash_max_distance: int = 3,
    sample_n: int | None = None,
) -> DataFrame:
    """(method, n_truth, n_candidates, n_hits, recall_at_t): measured
    candidate recall of each near-dup candidate generator against the
    EXACT all-pairs Jaccard >= t ground truth — the dedup counterpart of
    similarity.ann_recall_report (r5 closed the ANN side; this closes the
    dedup side). The r1-r5 gates certify each pair generator as
    internally consistent with its SQL twin; this query makes candidate
    QUALITY itself an oracle-checked output: the number an operator
    reads when choosing bands x rows, simhash bit budget, or whether the
    prefix filter's exactness is worth its posting cost.

    Methods, mirroring the standing gate queries' parameters exactly:
    - minhash_lsh: raw LSH band-collision candidates (16 hashes x 4
      bands; dedup_minhash_pairs BEFORE its verify stage) — recall < 1
      is the banding's miss rate at threshold t.
    - simhash: banded-hamming pairs (32 bits, 4 bands, distance <= 3) —
      recall vs a JACCARD truth calibrates the cheap bitwise family
      against the set-overlap definition the pipeline actually enforces.
    - prefix: ngram_jaccard_prefix_pairs — PPJoin prefix filtering is
      provably lossless, so its row pins recall EXACTLY 1.0 and
      n_candidates == n_truth; a driver hash match re-certifies the
      losslessness claim every round from inside the report itself.
    - winnow: MOSS winnowing fingerprint pairs (k=3 grams, window 4,
      min_shared 2, max_df 50 — winnow_pairs' gate parameters; r6,
      closing the one candidate family without a measured recall
      number). Winnowing targets CONTAINMENT (shared verbatim runs),
      so its recall against a whole-document Jaccard truth reads as
      "how much of the Jaccard-near-dup set a span-level generator
      also surfaces" — a calibration number, not a loss bound.

    Shape (r13): the shingle relation builds ONCE and feeds truth,
    signatures and the prefix chain; the TRUTH relation is computed
    through the prefix chain itself (PPJoin prefix filtering is exactly
    lossless, so ngram_jaccard_prefix_pairs returns row-identical
    results to the all-pairs ngram_jaccard_pairs — the DuckDB twin
    still computes truth as the full all-pairs SQL, so the driver hash
    re-certifies the losslessness every round) and is shared with the
    prefix leg; each remaining generator is the same candidate-bounded
    plan the standalone queries run, persisted and cache-filled
    CONCURRENTLY (guide §2.6 — the legs are independent until the
    final union/join, and one union plan ran them leg-after-leg); the
    union carries only (method, id_a, id_b); truth joins unhinted (AQE
    broadcasts when small). The exact-truth leg is prefix-bounded —
    at 100 TB this report still runs on a bounded calibration sample
    (the posting joins are shared-shingle-bounded, never a cross
    join), exactly how ann_recall_report treats its exact top-k.

    `sample_n` IS that calibration-sample mode: when set, the whole
    report (truth AND every candidate generator) runs over a
    deterministic hash-ordered sample of `sample_n` documents
    (TakeOrdered by md5(id) — no full sort, no rand() seed drift), so
    the exact-truth leg is bounded at any corpus size while schema and
    semantics — including the prefix row's losslessness pin — are
    unchanged. None (the default, and the gate configuration) keeps
    the full corpus.
    """
    if sample_n is not None:
        df = df.orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        ).limit(int(sample_n))
    sh_rel = track(
        shingles_df(df, text_col, id_col, shingle_n).persist()
    )
    # truth IS the prefix leg (r13, VERDICT #2 / guide §1.2 step 1):
    # PPJoin prefix filtering returns EXACT-equal rows to the all-pairs
    # ngram_jaccard_pairs (lossless by construction, test-pinned — and
    # re-certified by the driver hash EVERY round, because the DuckDB
    # twin still computes truth as the full all-pairs SQL; a Spark-side
    # lost pair would break the hash). The report previously built the
    # SAME pair set twice — once through the all-pairs posting
    # expansion (its single heaviest leg) for truth, once through the
    # prefix chain for the prefix row. One persisted relation now feeds
    # the truth spine, the hit-join AND the prefix leg; the all-pairs
    # expansion is gone from the plan.
    truth = track(
        ngram_jaccard_prefix_pairs(
            df, text_col, id_col, shingle_n, min_jaccard,
            shingles=sh_rel,
        )
        .select("id_a", "id_b")
        .persist()
    )
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, shingles=sh_rel
    )
    from model_audit_spark.operators.text_analysis import winnow_pairs

    cand_sets = {
        "minhash_lsh": track(
            minhash_band_pairs(sigs, id_col, num_hashes, bands)
            .select("id_a", "id_b")
            .persist()
        ),
        "prefix": truth,
        "simhash": track(
            simhash_near_dup_pairs(
                df, text_col, id_col, simhash_bits, simhash_bands,
                simhash_max_distance,
            )
            .select("id_a", "id_b")
            .persist()
        ),
        "winnow": track(
            winnow_pairs(df, text_col, id_col)
            .select("id_a", "id_b")
            .persist()
        ),
    }
    # Materialize the legs CONCURRENTLY in two dependency waves (r13,
    # guide §2.6): the legs are independent until the final union/join,
    # but submitted as one union plan their AQE stage waves ran
    # strictly leg-after-leg (driver r12: 11.1 s with an 8c/32c ratio
    # of 0.95 — a serial job chain, not compute). Wave 1: winnow and
    # simhash never touch the shingle relation, so they fill alongside
    # the shared shingle cache (pre-filling it matters: the two
    # shingle consumers racing a cold cache would each recompute it
    # into the same blocks). Wave 2: the truth/prefix relation and the
    # minhash leg scan the warm blocks.
    # Same-machine A/B at sf0.1: 13.57 → 9.0 s; exec leg 10.3 → 1.1 s.
    fill_caches_concurrently(
        [cand_sets["winnow"], cand_sets["simhash"], sh_rel],
        labels=["recall_report: winnow", "recall_report: simhash",
                "recall_report: shingles"],
    )
    fill_caches_concurrently(
        [truth, cand_sets["minhash_lsh"]],
        labels=["recall_report: truth+prefix",
                "recall_report: minhash_lsh"],
    )
    cands = None
    for name in sorted(cand_sets):
        p = cand_sets[name].select(
            F.lit(name).alias("method"), "id_a", "id_b"
        )
        cands = p if cands is None else cands.unionByName(p)
    per = (
        cands.join(
            truth.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )
    # n_truth attaches in-DAG (1-row agg cross join — no driver .first());
    # the method spine comes from a literal explode so a generator with
    # zero candidates still emits its row (recall 0, not a missing row).
    spine = (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
        .select(
            F.explode(
                F.array(*[F.lit(m) for m in sorted(cand_sets)])
            ).alias("method"),
            "n_truth",
        )
    )
    return (
        spine.join(per, "method", "left")
        .select(
            "method",
            "n_truth",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.greatest(F.col("n_truth"), F.lit(1)),
                6,
            ).alias("recall_at_t"),
        )
        .orderBy("method")
    )


def canonical_text(col: Column | str) -> Column:
    """Normalization key for canonical dedup: lower-case, every run of
    non-letter/non-digit characters (punctuation, whitespace, newlines,
    emoji) collapsed to one space, then trimmed — catches the trivial
    variants raw-byte hashing misses (re-wrapped lines, smart quotes,
    trailing whitespace, case drift). Unicode-category classes [^\\p{L}
    \\p{N}] behave identically in Java regex and RE2, so the key is
    engine-portable. Deliberately NOT Unicode-normalized (no NFC): no
    builtin on either engine; documents needing it should be NFC'd at
    ingest."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}]+", " ")
    )


def canonical_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(canon_hash, keeper_id, n_docs, n_byte_variants): groups of
    documents identical AFTER canonical_text normalization with at
    least 2 members — the near-exact layer between raw-hash dedup and
    minhash: same words, different bytes. n_byte_variants counts the
    distinct RAW hashes inside the group (how many byte-level variants
    the canonical key collapsed); keeper is the smallest id.

    Shape at scale: one projection to (id, canon_hash, raw_hash), ONE
    key-hash aggregate carrying three fixed-width columns — text never
    shuffles. NULL text canonicalizes like empty text (repo
    convention)."""
    hashed = df.select(
        F.col(id_col),
        F.md5(canonical_text(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "canon_hash"
        ),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_raw"),
    )
    return (
        hashed.groupBy("canon_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_raw").alias("n_byte_variants"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("keeper_id")
    )
