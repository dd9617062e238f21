"""Corpus curation — the end-to-end training-data filter pipeline (scale
extension, BASELINE.json north star; composes existing operators, no new
kernels).

Every doc gets a verdict in ONE result relation:
  drop_reason = first failing stage of
    lang -> quality -> exact_dup -> near_dup,   NULL if kept.

Stages (all deterministic, all SQL-mirrored in oracle.curate_corpus):
  lang       — n-gram language ID not in the allow-list
  quality    — composite quality_score (with_doc_stats) below threshold
  exact_dup  — not the lowest-id doc of its md5(text) group
  near_dup   — appears as the HIGHER id of a MinHash-LSH candidate pair
               whose exact n-gram Jaccard >= min_jaccard (greedy pairwise
               rule, not connected components — iterative closure would
               need a loop; documented so the semantics stay oracle-exact)

100 TB shape: stats + md5 ride ONE projection over the corpus scan; the
exact-dup window shuffles by text_hash once; the near-dup branch is the
audited bucket-LSH pipeline (candidate-bounded verify); the final join
broadcasts the near-dup id set (ids of verified pairs only — tiny next to
the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_audit_spark.operators.dedup import (
    jaccard_verify,
    minhash_band_pairs,
    minhash_signatures,
    shingles_df,
)
from model_audit_spark.operators.similarity import sql_ident, sql_num, sql_str
from model_audit_spark.persistence import track
from model_audit_spark.operators.text_analysis import with_doc_stats


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    min_jaccard: float = 0.5,
) -> DataFrame:
    """(id, lang_pred, quality_score, drop_reason, kept) for every doc.

    The per-row expressions (hash, keep-first rank, reason CASE) are SQL
    text parsed once each — one py4j call instead of one per operator."""
    idc = sql_ident(id_col)
    base = with_doc_stats(
        docs.select(F.col(id_col), F.col(text_col)),
        text_col,
        names=["quality_score", "lang_pred"],
    ).selectExpr(
        idc, "quality_score", "lang_pred",
        f"md5({sql_ident(text_col)}) AS text_hash",
    )
    flagged = base.withColumn(
        "is_first",
        F.expr(f"row_number() OVER (PARTITION BY text_hash ORDER BY {idc}) = 1"),
    )

    # ONE persisted shingle relation feeds both the minhash aggregate
    # and the exact Jaccard verify (minhash_signatures `shingles=`):
    # without it the chain re-tokenized the corpus per consumer, and
    # Catalyst's inferred-filter pushdown substituted the shingle tree
    # into pushed Filters 12x (measured in the optimized plan) — the
    # persist is also the pushdown barrier.
    shing = track(
        shingles_df(docs, text_col, id_col).persist()
    )
    sigs = minhash_signatures(
        docs, text_col, id_col, shingles=shing
    )
    pairs = jaccard_verify(
        docs, minhash_band_pairs(sigs, id_col), text_col, id_col,
        min_jaccard=min_jaccard, shingles=shing,
    )
    near = (
        pairs.selectExpr(f"id_b AS {idc}")
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )

    out = flagged.join(F.broadcast(near), id_col, "left")
    lang_ok = (
        f"lang_pred IN ({', '.join(sql_str(x) for x in langs)})"
        if langs else "false"
    )
    reason = F.expr(
        f"CASE WHEN NOT ({lang_ok}) THEN 'lang' "
        f"WHEN quality_score < {sql_num(min_quality)} THEN 'quality' "
        "WHEN NOT is_first THEN 'exact_dup' "
        "WHEN is_near_dup THEN 'near_dup' END"
    )
    return out.select(
        F.col(id_col),
        "lang_pred",
        "quality_score",
        reason.alias("drop_reason"),
        reason.isNull().alias("kept"),
    )
