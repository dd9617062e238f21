"""Benchmark decontamination (scale extension; no reference counterpart —
the dedup/curation family's eval-overlap member).

Training corpora must not contain evaluation data: a training document that
shares word n-grams with an eval/benchmark document inflates benchmark
scores. Standard practice (GPT-3 appendix C, The Pile, Dolma) flags training
documents sharing any n-gram (n≈5-13) with the eval set and drops or audits
them.

Shape at 100 TB:
- The eval side is tiny (benchmarks are 10^3-10^6 docs) — its distinct
  shingle-hash relation is broadcast, so the corpus-side scan joins against
  an in-memory hash set: no shuffle of corpus shingles, no repartition.
- The corpus side is one explode → broadcast-hash-join → hash-aggregate:
  the only shuffle carries (doc_id, n_sh, partial count) — fixed width per
  contaminated doc, and only docs with ≥1 hit survive the join.
- Shingles are md5-hashed before the join so the broadcast relation and the
  join keys are fixed-width (32 hex chars), not arbitrary-length text.
- `shingles_df` tokenizes once per doc in its own projection (no lambda
  re-evaluation, SCALE.md rule 5); n_sh rides the explode so the doc-size
  relation needs no second scan of the shingle subtree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_audit_spark.operators.dedup import shingles_df
from model_audit_spark.operators.similarity import sql_ident


def eval_shingle_hashes(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """(_h): distinct md5 hex of every word n-shingle in the eval corpus.

    explode_OUTER + null-drop, not plain explode: InferFiltersFromGenerate
    adds size(sh) > 0 under a plain explode, and predicate pushdown then
    substitutes the whole shingle tree into the pushed Filter — one extra
    shingle build per row (measured in the optimized plan). The null
    filter on the GENERATED attribute cannot be pushed below the
    Generate, so the array is built once."""
    return (
        shingles_df(eval_df, text_col, id_col, shingle_n)
        .selectExpr("explode_outer(sh) AS _s")
        .filter("_s IS NOT NULL")
        .selectExpr("md5(_s) AS _h")
        .distinct()
    )


def contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(id, n_sh, n_overlap, overlap_frac) per contaminated training doc.

    n_sh = distinct n-shingles in the doc, n_overlap = how many of them
    appear anywhere in the eval corpus. Docs with no overlap are absent
    (they are clean by construction). broadcast_eval=False falls back to a
    shuffle join for eval sets too large to broadcast.
    """
    ev = eval_shingle_hashes(eval_df, text_col, id_col, shingle_n)
    if broadcast_eval:
        ev = F.broadcast(ev)
    # explode_outer + null-drop: see eval_shingle_hashes (avoids the
    # inferred size(sh) > 0 filter re-building the shingle array)
    idc = sql_ident(id_col)
    long = shingles_df(train_df, text_col, id_col, shingle_n).selectExpr(
        idc, "CAST(size(sh) AS BIGINT) AS n_sh", "explode_outer(sh) AS _s"
    ).filter("_s IS NOT NULL")
    hashed = long.selectExpr(idc, "n_sh", "md5(_s) AS _h")
    return (
        hashed.join(ev, "_h")
        .groupBy(id_col, "n_sh")
        .agg(F.expr("count(*) AS n_overlap"))
        .selectExpr(
            idc, "n_sh", "n_overlap",
            "round(n_overlap / greatest(n_sh, 1), 6) AS overlap_frac",
        )
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    min_overlap: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Training corpus minus docs with >= min_overlap eval n-grams.

    Anti-join on the contamination report: the full-width train rows are
    scanned once and never shuffled (the report side is tiny — contaminated
    ids only)."""
    flagged = contamination(
        train_df, eval_df, text_col, id_col, shingle_n, broadcast_eval
    ).filter(F.col("n_overlap") >= min_overlap)
    return train_df.join(
        flagged.select(id_col), id_col, "left_anti"
    )


def embedding_contamination(
    train_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    salt_buckets: int = 16,
    bucket_window: int | None = None,
) -> DataFrame:
    """Embedding-space decontamination: training vectors whose cosine to
    ANY eval vector crosses `threshold` (the semantic complement of the
    n-gram `contamination` check — paraphrased eval leakage that shares
    no 5-gram still collides in embedding space).

    Same bucket-first shape as embedding_cosine_pairs, but across two
    sets: both sides get the seeded hyperplane signature, candidates come
    from bucket equality (Σ |train_b|·|eval_b| work, never |train|·|eval|),
    and the exact cosine verifies. Output: one row per contaminated
    training vector with its worst (highest-cosine) eval match —
    (train_id, eval_id, cosine_sim), ties on cosine broken by eval_id.

    `n_planes=None` (the default) derives the count from the TRAINING
    corpus size via derive_n_planes — the train side is the one that
    grows to 100 TB; the eval set is fixed. Gate queries pin literals.

    Recall implication of the derived default (r8 change, was a fixed
    8): more planes at scale means finer buckets, hence FEWER LSH
    candidate pairs ever reach the exact-cosine verify — recall is
    traded for the bounded bucket occupancy that makes the scan safe at
    100 TB. Callers who previously relied on the 8-plane recall at
    large N should pin `n_planes=8` explicitly (and accept its
    quadratic in-bucket growth) or raise `threshold` headroom; the
    dedup_recall_report/ann_recall_report gates are the measured
    recall reference for the derived policy.

    `salt_buckets` (r11): on clustered corpora one hot topic floods a
    single LSH bucket, and a plain equi-join on `bucket` sends that
    WHOLE bucket's train×eval product to ONE reducer task — measured on
    the r11 skew fixture (top cluster 21% of 200k vectors): a single
    task burned 34 CPU-minutes evaluating the ~282M hot-bucket pairs
    while 31 cores idled. The join key is therefore (bucket, salt):
    train rows take salt = xxhash64(id) mod S, the SMALL eval side is
    replicated across all S salts (eval×S rows — the bounded side by
    contract), so the identical candidate pairs are enumerated — the
    output is row-identical for every S, pinned by test — but the hot
    bucket's work spreads across S tasks. Salting fixes the
    SERIALIZATION layer only; the candidate COUNT on clustered data is
    still Σ|train_b|·|eval_b| (use more planes or a higher threshold to
    shrink it).

    `bucket_window=W` (r13, VERDICT #1) is the bounded-CANDIDATE mode
    for clustered corpora — the knn_graph SortingLSH discipline applied
    across the two sets (the r11 skew sweep measured the unbounded
    candidate layer super-linear: exp 1.15, 385 s at 200k train
    vectors, because candidate work tracks Σ|train_b|·|eval_b|).
    Within each LSH bucket, train AND eval rows are ordered TOGETHER
    by one extra seeded random projection (quantized
    floor(proj·1e9+0.5) — the portable half-up — with (is_eval, id)
    tiebreak), and each train row is paired only with the eval rows
    inside a ±W frame around it in that interleaved order — its
    nearest eval neighbors in the 1-D locality sense. The pairing is
    knn_graph's collect_list-over-frame shape (the when() inside the
    collect skips train rows, so the frame buffers ≤ 2W eval structs
    per row): candidate work is ≤ 2W·|train+eval| (linear in the
    corpus) at ANY cluster shape, there is no pair join at all — so
    no hot-reducer product and no salt needed. When every bucket holds
    ≤ W+1 rows total the output is IDENTICAL to the unbounded mode
    (the frame then spans the whole bucket); inside a flooded bucket
    the miss risk concentrates among same-cluster near-ties — and the
    report's worst-match semantics only need ONE above-threshold
    neighbor to flag a train vector. Default None preserves the
    historical unbounded shape (gate hashes stable).
    """
    from model_audit_spark.operators.similarity import (
        as_double_array,
        derive_n_planes,
        dlit,
        random_hyperplanes,
        rhp_signature,
        _dot,
        _norm,
    )
    from pyspark.sql import Window

    if n_planes is None:
        n_planes = derive_n_planes(train_emb)
    if dim is None:
        dim = len(train_emb.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes)

    def sig(df: DataFrame, out_id: str, out_v: str, out_n: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id),
                as_double_array(vec_col).alias(out_v),
            )
            .withColumn("bucket", rhp_signature(F.col(out_v), planes))
            # norm once per vector, not per candidate pair (same doubles)
            .withColumn(out_n, _norm(F.col(out_v)))
        )

    if bucket_window is not None:
        # bounded-candidate SortingLSH mode — see docstring. One extra
        # seeded projection (same seed offset as knn_graph's order
        # plane), quantized so a last-ulp cross-engine double
        # difference cannot reorder a bucket.
        w_n = int(bucket_window)
        order_plane = random_hyperplanes(dim, 1, seed=42 + 9973)[0]

        def qkey(vcol):
            proj = F.aggregate(
                F.zip_with(vcol, dlit(order_plane), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            return F.floor(proj * F.lit(1e9) + F.lit(0.5))

        # union the RAW sides first, then sign/project ONCE over the
        # union: one signature+norm+qkey projection instead of two.
        # NO Filter node ever sits on this union — a post-window filter
        # on the per-branch literal side flag tripped Catalyst's
        # Union constraint/pushdown rewrite into an
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the qkey lambda's
        # pruned input (Spark 4.1); the train selection below rides a
        # when()-guarded explode instead (eval rows explode an empty
        # array and simply vanish).
        raw = train_emb.select(
            F.col(id_col).alias("uid"),
            as_double_array(vec_col).alias("uv"),
            F.lit(0).alias("is_eval"),
        ).unionByName(
            eval_emb.select(
                F.col(id_col).alias("uid"),
                as_double_array(vec_col).alias("uv"),
                F.lit(1).alias("is_eval"),
            )
        )
        u = raw.select(
            "uid",
            "uv",
            "is_eval",
            rhp_signature(F.col("uv"), planes).alias("bucket"),
            _norm(F.col("uv")).alias("un"),
            qkey(F.col("uv")).alias("qk"),
        )
        # knn_graph's frame pattern, cross-set: collect the EVAL
        # neighbors within ±W frame positions of each row in the
        # bucket's locality order (collect_list skips the NULLs the
        # when() emits for train rows, so the frame buffer holds at
        # most 2W eval structs per row), then explode on train rows —
        # eval rows explode an empty list and drop out. STRUCTURAL
        # bound: ≤ 2W candidates per train row, never occupancy², and
        # — unlike a position-table join — no join at all, so there is
        # no surface for Catalyst's cross-relation constraint
        # transplant (a join after this window hit
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND binding the qkey lambda's
        # union-side input on Spark 4.1).
        frame = (
            Window.partitionBy("bucket")
            .orderBy(
                F.col("qk").asc(), F.col("is_eval").asc(),
                F.col("uid").asc(),
            )
            .rowsBetween(-w_n, w_n)
        )
        nbrs = F.collect_list(
            F.when(
                F.col("is_eval") == 1,
                F.struct(
                    F.col("uid").alias("eid"),
                    F.col("uv").alias("ev"),
                    F.col("un").alias("en"),
                ),
            )
        ).over(frame)
        cand = (
            # when() without otherwise: eval rows get a NULL neighbor
            # array, and explode(NULL) emits no rows — the train
            # selection needs no Filter node anywhere on the union
            u.withColumn(
                "_nb", F.when(F.col("is_eval") == 0, nbrs)
            )
            .select(
                F.col("uid").alias("train_id"),
                F.col("uv").alias("tv"),
                F.col("un").alias("tn"),
                F.explode("_nb").alias("nb"),
            )
            .select(
                "train_id",
                "tv",
                "tn",
                F.col("nb.eid").alias("eval_id"),
                F.col("nb.ev").alias("ev"),
                F.col("nb.en").alias("en"),
            )
        )
    else:
        s = max(1, int(salt_buckets))
        t = sig(train_emb, "train_id", "tv", "tn").withColumn(
            "_salt", F.pmod(F.xxhash64("train_id"), F.lit(s)).cast("int")
        )
        e = sig(eval_emb, "eval_id", "ev", "en").withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        )
        # explicit broadcast (r12, ADVICE): eval is the bounded side BY
        # CONTRACT (docstring above), but replicating it S ways inflates
        # the size ESTIMATE S-fold — near autoBroadcastJoinThreshold/S
        # the planner would silently flip the previously-broadcast join
        # into a shuffle of the 100 TB train side. The hint pins the
        # join strategy to the contract instead of the estimate.
        cand = t.join(F.broadcast(e), ["bucket", "_salt"])
    sim = _dot(F.col("tv"), F.col("ev")) / (F.col("tn") * F.col("en"))
    scored = cand.select(
        "train_id", "eval_id", F.round(sim, 6).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)
    w = Window.partitionBy("train_id").orderBy(
        F.desc("cosine_sim"), F.asc("eval_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("train_id", "eval_id", "cosine_sim")
    )
