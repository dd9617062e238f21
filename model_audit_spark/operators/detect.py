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

Construction: the 12 family scores (marker loops included) are SQL TEXT
parsed in one call (_family_score_sql), not Python loops of Column
calls — each DSL call is a py4j round trip, and the loop form cost
~2.5k of them per detect. Parsed and DSL forms analyze to the same
plan (pinned by tests/test_sql_construction.py via sameResult).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_audit_spark.functions.text import style_flag_columns, text_preview
from model_audit_spark.operators.similarity import sql_ident, sql_str


def style_scores(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-format (id, family, family_rank, score) — one row per text × family.

    Built by exploding the per-row score-entry array (_score_entries_sql):
    the flag columns are evaluated once per TEXT, not once per text×family
    — measured 5× faster on the sf0.1 corpus than joining the texts with
    the 12-row signature table.

    Two-stage: flags materialize as real columns below the explode, which
    keeps the Generate expression small enough for whole-stage codegen
    (inline form trips janino's 64KB limit → interpreted fallback;
    measured 3.6× slower at sf0.1)."""
    base, refs = flag_base(df, text_col, [F.col(id_col)])
    return base.select(
        id_col, F.expr(f"explode({_score_entries_sql(refs)}) AS e")
    ).select(id_col, "e.*")


def flag_base(
    df: DataFrame, text_col: str, keep: list
) -> tuple[DataFrame, dict[str, str]]:
    """Stage-1 projection for two-stage detection: evaluate the shared
    per-text flag expressions ONCE as real columns (`_sf_*`), return
    (projected df, {flag_name: SQL reference to its column}).

    The refs feed the family scores (style_scores, detection_columns),
    so the stage-2 expression tree stays ~10x smaller than the inlined
    form — small enough for whole-stage codegen. CollapseProject will
    not re-inline them: each flag is referenced 12x (once per family)
    and the rule only collapses aliases that are cheap or used once.
    Both stages are narrow projections — streaming-safe, still
    zero-shuffle."""
    flag_exprs = style_flag_columns(text_col)
    base = df.select(
        *keep, *[c.alias(f"_sf_{n}") for n, c in flag_exprs.items()]
    )
    refs = {n: sql_ident(f"_sf_{n}") for n in flag_exprs}
    return base, refs


def _hits_sql(lower: str, needles: list[str]) -> str:
    """SQL text of the number of `needles` contained in `lower`."""
    return (
        "("
        + " + ".join(
            ["0"]
            + [f"CAST(contains({lower}, {sql_str(n)}) AS INT)" for n in needles]
        )
        + ")"
    )


def _family_score_sql(flags: dict[str, str]) -> list[tuple[str, int, str]]:
    """(family, rank, score SQL text) per catalog family — the per-row
    score expressions shared by detection_columns and style_scores,
    over the flag_base column references. Literal-parameterized, no
    cross join."""
    from model_audit_spark.catalogs import STYLE_SIGNATURES

    lower = flags["text_lower"]
    lang = flags["text_lang"]

    def _term(flag: str, tends: bool) -> str:
        w = "0.05D" if tends else "-0.02D"
        return f"CASE WHEN {flags[flag]} THEN {w} ELSE 0.0D END"

    out = []
    for rank, (fam, markers, refusals, md, num, code, verb, sig_lang) in (
        enumerate(STYLE_SIGNATURES)
    ):
        sl = sql_str(sig_lang)
        lang_score = (
            f"CASE WHEN {lang} = {sl} THEN 0.2D "
            f"WHEN {sl} = 'both' THEN 0.1D ELSE 0.0D END"
        )
        marker_score = f"least({_hits_sql(lower, markers)} / 3.0D, 1.0D) * 0.5D"
        struct_score = " + ".join([
            _term("has_md", md),
            _term("has_numbered", num),
            _term("has_code_blocks", code),
            _term("is_verbose", verb),
        ])
        refusal_score = (
            f"CASE WHEN {flags['has_refusal_hint']} THEN "
            f"{_hits_sql(lower, refusals)} / {max(len(refusals), 1)} * 0.1D "
            "ELSE 0.0D END"
        )
        score = (
            f"round({lang_score} + {marker_score} + ({struct_score}) + "
            f"{refusal_score}, 4)"
        )
        out.append((fam, rank, score))
    return out


def _score_entries_sql(flags: dict[str, str]) -> str:
    """SQL text of all 12 family scores for one row as an array of
    structs (family, family_rank, score), over flag_base's column
    references. Built once per row by the generator — never a
    per-element lambda over a shared subtree."""
    return (
        "array("
        + ", ".join(
            f"struct({sql_str(fam)} AS family, {rank} AS family_rank, "
            f"{score} AS score)"
            for fam, rank, score in _family_score_sql(flags)
        )
        + ")"
    )


def detection_columns(flags: dict[str, str]) -> dict[str, "F.Column"]:
    """Per-ROW detection over flag_base's column references: argmax via
    array_max over (score, -rank, family) structs built DIRECTLY from
    the score expressions (a transform over the score-entry array would
    double the expression tree and codegen cost). The argmax is parsed
    once; both outputs are fields of that one Column.

    No cross join, no aggregate, no shuffle — a pure projection, so it runs
    identically in batch and Structured Streaming and keeps whole-stage
    codegen. Semantics match style_scores/detect exactly (same formula,
    same catalog-order tie-break)."""
    best = F.expr(
        "array_max(array("
        + ", ".join(
            f"struct({score} AS score, {-rank} AS neg_rank, "
            f"{sql_str(fam)} AS family)"
            for fam, rank, score in _family_score_sql(flags)
        )
        + "))"
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
    cols = detection_columns(refs)
    return base.select(
        F.col(id_col),
        "text_preview",
        cols["predicted_model"].alias("predicted_model"),
        cols["confidence"].alias("confidence"),
    )


def detection_distribution(detections: DataFrame) -> DataFrame:
    """Source distribution (A5): counts + percentage per predicted family."""
    return (
        detections.groupBy("predicted_model")
        .agg(F.expr("count(*) AS n_texts"))
        .selectExpr(
            "predicted_model",
            "n_texts",
            "round(n_texts / sum(n_texts) OVER () * 100.0D, 2) AS pct",
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
