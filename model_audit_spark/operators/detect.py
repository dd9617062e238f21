"""Text-source detection (the reference `detect` pipeline, SURVEY.md §3.1).

Spark shape: one projection evaluates the per-text flags once as real
columns (flag_base); a second scores all 12 catalog families from
literal-parameterized expressions (F20) and takes the argmax per row
(detection_columns) — no join, no shuffle, so batch and Structured
Streaming share it. The long (text × family) form explodes the same
per-row score array (style_scores); only the scores-map variant of
detect() adds one hash aggregate (T1).

Semantics mirror reference methods/style.py:241-339:
  score = 0.20 * lang-match (0.10 if signature lang == 'both')
        + 0.50 * min(marker_hits / 3, 1)
        + struct(+0.05 per matching flag the text exhibits, -0.02 mismatch)
        + 0.10 * refusal_hit_ratio (only when the text has a refusal hint)
  rounded to 4 decimals; argmax ties resolve to catalog order (family_rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_audit_spark.functions.text import style_flag_columns, text_preview


def style_scores(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-format (id, family, family_rank, score) — one row per text × family.

    Built by exploding the per-row score-entry array (style_score_entries):
    the flag columns are evaluated once per TEXT, not once per text×family
    — measured 5× faster on the sf0.1 corpus than joining the texts with
    the 12-row signature table.

    Two-stage: flags materialize as real columns below the explode, which
    keeps the Generate expression small enough for whole-stage codegen
    (inline form trips janino's 64KB limit → interpreted fallback;
    measured 3.6× slower at sf0.1)."""
    base, refs = flag_base(df, text_col, [F.col(id_col)])
    return base.select(
        F.col(id_col),
        F.explode(style_score_entries(text_col, refs)).alias("e"),
    ).select(id_col, "e.family", "e.family_rank", "e.score")


def flag_base(
    df: DataFrame, text_col: str, keep: list
) -> tuple[DataFrame, dict]:
    """Stage-1 projection for two-stage detection: evaluate the shared
    per-text flag expressions ONCE as real columns (`_sf_*`), return
    (projected df, {flag_name: column ref}).

    The refs feed _family_score_exprs/style_score_entries/detection_columns
    so the stage-2 expression tree stays ~10x smaller than the inlined
    form — small enough for whole-stage codegen. CollapseProject will not
    re-inline them: each flag is referenced 12x (once per family) and the
    rule only collapses aliases that are cheap or used once. Both stages
    are narrow projections — streaming-safe, still zero-shuffle."""
    flag_exprs = style_flag_columns(text_col)
    base = df.select(
        *keep, *[c.alias(f"_sf_{n}") for n, c in flag_exprs.items()]
    )
    refs = {n: F.col(f"_sf_{n}") for n in flag_exprs}
    return base, refs


def _family_score_exprs(
    text_col: str = "text", flags: dict | None = None
) -> list[tuple[str, int, "F.Column"]]:
    """(family, rank, score Column) per catalog family — the per-row score
    expressions shared by detection_columns and style_scores. Literal-
    parameterized, no cross join.

    With flags=None the flag subexpressions are inlined per family (single-
    projection form, needed where the caller can only emit ONE select).
    Passing precomputed flag *column references* instead shrinks the
    combined 12-family expression ~10x, which keeps the generated Java
    under janino's 64KB method limit so whole-stage codegen stays ON
    (the inlined form trips `WholeStageCodegenExec` fallback on the
    explode path)."""
    from model_audit_spark.catalogs import STYLE_SIGNATURES

    if flags is None:
        flags = style_flag_columns(text_col)
    lower = flags["text_lower"]
    lang = flags["text_lang"]

    out = []
    for rank, (fam, markers, refusals, md, num, code, verb, sig_lang) in (
        enumerate(STYLE_SIGNATURES)
    ):
        lang_score = (
            F.when(lang == sig_lang, 0.20)
            .when(F.lit(sig_lang) == "both", 0.10)
            .otherwise(0.0)
        )
        marker_hits = sum(
            (lower.contains(m).cast("int") for m in markers), F.lit(0)
        )
        marker_score = F.least(marker_hits / 3.0, F.lit(1.0)) * 0.50

        def _term(has, tends: bool):
            if tends:
                return F.when(has, 0.05).otherwise(0.0)
            return F.when(has, -0.02).otherwise(0.0)

        struct_score = (
            _term(flags["has_md"], md)
            + _term(flags["has_numbered"], num)
            + _term(flags["has_code_blocks"], code)
            + _term(flags["is_verbose"], verb)
        )
        refusal_hits = sum(
            (lower.contains(p).cast("int") for p in refusals), F.lit(0)
        )
        refusal_score = F.when(
            flags["has_refusal_hint"],
            refusal_hits / max(len(refusals), 1) * 0.10,
        ).otherwise(0.0)
        score = F.round(
            lang_score + marker_score + struct_score + refusal_score, 4
        )
        out.append((fam, rank, score))
    return out


def style_score_entries(
    text_col: str = "text", flags: dict | None = None
) -> "F.Column":
    """All 12 family scores for one row as an array of structs
    (family, family_rank, score). Built once per row by the generator —
    never a per-element lambda over a shared subtree."""
    return F.array(
        *[
            F.struct(
                F.lit(fam).alias("family"),
                F.lit(rank).alias("family_rank"),
                score.alias("score"),
            )
            for fam, rank, score in _family_score_exprs(text_col, flags)
        ]
    )


def detection_columns(
    text_col: str = "text", flags: dict | None = None
) -> dict[str, "F.Column"]:
    """Per-ROW detection: argmax via array_max over (score, -rank, family)
    structs built DIRECTLY from the score expressions (a transform over
    style_score_entries would double the expression tree and codegen cost).

    No cross join, no aggregate, no shuffle — a pure projection, so it runs
    identically in batch and Structured Streaming and keeps whole-stage
    codegen. Semantics match style_scores/detect exactly (same formula,
    same catalog-order tie-break)."""
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    score.alias("score"),
                    F.lit(-rank).alias("neg_rank"),
                    F.lit(fam).alias("family"),
                )
                for fam, rank, score in _family_score_exprs(text_col, flags)
            ]
        )
    )
    return {
        "predicted_model": best["family"],
        "confidence": best["score"],
    }


def detect(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_scores_map: bool = False,
) -> DataFrame:
    """Per-text detection result: (id, text_preview, predicted_model, confidence).

    Argmax tie-break = catalog definition order. Default path is the
    zero-shuffle per-row expression (detection_columns); the scores-map
    variant keeps the long-format aggregate since it must materialize all
    12 scores anyway."""
    if with_scores_map:
        scored = style_scores(df, spark, text_col, id_col)
        out = scored.groupBy(id_col).agg(
            F.expr("max_by(family, struct(score, -family_rank))").alias(
                "predicted_model"
            ),
            F.max("score").alias("confidence"),
            F.map_from_entries(
                F.collect_list(F.struct("family", "score"))
            ).alias("scores"),
        )
        previews = df.select(
            F.col(id_col), text_preview(text_col).alias("text_preview")
        )
        return out.join(previews, id_col)
    base, refs = flag_base(
        df, text_col,
        [F.col(id_col), text_preview(text_col).alias("text_preview")],
    )
    cols = detection_columns(text_col, refs)
    return base.select(
        F.col(id_col),
        "text_preview",
        cols["predicted_model"].alias("predicted_model"),
        cols["confidence"].alias("confidence"),
    )


def detection_distribution(detections: DataFrame) -> DataFrame:
    """Source distribution (A5): counts + percentage per predicted family."""
    from pyspark.sql import Window

    total = F.sum("n_texts").over(Window.partitionBy())
    return (
        detections.groupBy("predicted_model")
        .agg(F.count("*").alias("n_texts"))
        .select(
            "predicted_model",
            "n_texts",
            F.round(F.col("n_texts") / total * 100.0, 2).alias("pct"),
        )
        .orderBy(F.desc("n_texts"), "predicted_model")
    )


def evaluate_accuracy(pred_df: DataFrame) -> DataFrame:
    """Accuracy evaluation (A6, reference benchmark.py:264-300).

    Input: (predicted_model, label). Output: one row with overall accuracy +
    per-class accuracy map.
    """
    per_class = (
        pred_df.groupBy("label")
        .agg(
            F.count("*").alias("class_total"),
            F.sum((F.col("predicted_model") == F.col("label")).cast("int")).alias(
                "class_correct"
            ),
        )
        .select(
            "label",
            "class_total",
            "class_correct",
            (F.col("class_correct") / F.col("class_total")).alias("class_accuracy"),
        )
    )
    overall = per_class.agg(
        F.sum("class_total").alias("total"),
        F.sum("class_correct").alias("correct"),
        (F.sum("class_correct") / F.sum("class_total")).alias("accuracy"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("label", "class_accuracy")))
        ).alias("per_class"),
    )
    return overall
