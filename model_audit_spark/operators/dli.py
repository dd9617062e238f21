"""DLI behavior signatures: bigram distributions, behavior features, JS
divergence and the blended behavior similarity.

Reference semantics (methods/dli.py):
- A2 (dli.py:65-73): per model, merge bigram counts over all responses, keep
  the top-100 by count, normalize by the top-100 total.
  Tie-breaking divergence: the reference keeps Counter first-seen order at the
  count boundary (insertion order of a merged dict — not reproducible in a
  distributed engine); we use (count DESC, ngram ASC), which is deterministic
  in both Spark and any SQL oracle. Documented per SURVEY.md §4/§7.4.
- A3 (dli.py:81-111): 8 behavior features per model.
- V3 (dli.py:36-57): JS divergence over the union of bigram keys, KL terms
  guarded by p>0 AND m>0.
- V4 (dli.py:116-140): similarity = 0.4·(1-min(JS/ln2,1)) + 0.6·cosine(features).
- V7: is_derived = sim >= 0.80, confidence k = 0.2 (dli.py:243-252).

Scale notes: bigram counting is explode → two-level aggregate (partial
map-side combine); top-100 is a per-group window over the already-aggregated
(group, ngram) relation; pairwise JS joins operate on ≤100 rows per group.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from model_audit_spark.functions.text import (
    bigrams,
    dli_certainty_count,
    dli_hedging_count,
    dli_refusal_flag,
    word_tokens,
    words,
)

DLI_THRESHOLD = 0.80
DLI_CONFIDENCE_K = 0.2
DLI_FEATURES = [
    "refusal_rate", "avg_length", "vocab_diversity", "markdown_rate",
    "list_rate", "code_block_rate", "hedging_rate", "certainty_rate",
]


_POS_CAP = 1 << 20  # tokens per doc bound for the packed first-seen key


def bigram_distribution(
    df: DataFrame,
    group_col: str = "model_id",
    text_col: str = "text",
    top_n: int = 100,
    order_col: str | None = None,
) -> DataFrame:
    """A2: (group, ngram, cnt, weight) — top-N bigrams, weight normalized
    over the top-N mass.

    Tie-break at the top-N boundary (T2): with `order_col` (a per-doc
    ordering column, e.g. doc_id/probe_seq), ties rank by FIRST-SEEN
    position like the reference's Counter.most_common — first_seen is
    min(order·2²⁰ + pos), a packed key that stays a pure hash aggregate
    (no per-group sort; positions capped at 2²⁰ tokens/doc, order values
    must fit 2⁴³). Without order_col, ties rank by ngram ASC — still
    deterministic, divergence documented."""
    toks = df.select(
        F.col(group_col),
        *([F.col(order_col).alias("_ord")] if order_col else []),
        word_tokens(text_col).alias("w"),
    )
    if order_col:
        bgpos = toks.select(
            group_col,
            "_ord",
            F.posexplode(bigrams("w")).alias("pos", "ngram"),
        )
        packed = F.col("_ord").cast("long") * _POS_CAP + F.least(
            F.col("pos"), F.lit(_POS_CAP - 1)
        )
        counts = bgpos.groupBy(group_col, "ngram").agg(
            F.count("*").alias("cnt"),
            F.min(packed).alias("_first_seen"),
        )
        w_rank = Window.partitionBy(group_col).orderBy(
            F.desc("cnt"), F.asc("_first_seen"), F.asc("ngram")
        )
        top = counts.withColumn("rn", F.row_number().over(w_rank)).filter(
            F.col("rn") <= top_n
        )
        w_group = Window.partitionBy(group_col)
        return top.select(
            group_col,
            "ngram",
            "cnt",
            (F.col("cnt") / F.sum("cnt").over(w_group)).alias("weight"),
        )
    exploded = toks.select(
        group_col, F.explode(bigrams("w")).alias("ngram")
    )
    counts = exploded.groupBy(group_col, "ngram").agg(F.count("*").alias("cnt"))
    w_rank = Window.partitionBy(group_col).orderBy(
        F.desc("cnt"), F.asc("ngram")
    )
    top = counts.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= top_n
    )
    w_group = Window.partitionBy(group_col)
    return top.select(
        group_col,
        "ngram",
        "cnt",
        (F.col("cnt") / F.sum("cnt").over(w_group)).alias("weight"),
    )


def behavior_features(
    df: DataFrame, group_col: str = "model_id", text_col: str = "text"
) -> DataFrame:
    """A3: one row per group with the 8 behavior features."""
    c = F.col(text_col)
    lo = F.lower(c)
    resp = df.select(
        F.col(group_col),
        dli_refusal_flag(text_col).cast("double").alias("is_refusal"),
        F.size(words(c)).cast("double").alias("n_ws_words"),
        c.rlike(r"(?m)^#+\s").cast("double").alias("is_md"),
        c.rlike(r"(?m)^[\s]*[-*•]\s").cast("double").alias("is_list"),
        c.contains("```").cast("double").alias("is_code"),
        dli_hedging_count(lo).alias("hedge_cnt"),
        dli_certainty_count(lo).alias("cert_cnt"),
        word_tokens(c).alias("tokens"),
    )
    per_resp = resp.groupBy(group_col).agg(
        F.avg("is_refusal").alias("refusal_rate"),
        F.avg("n_ws_words").alias("avg_length"),
        F.avg("is_md").alias("markdown_rate"),
        F.avg("is_list").alias("is_list_rate"),
        F.avg("is_code").alias("code_block_rate"),
        F.sum("hedge_cnt").alias("hedge_total"),
        F.sum("cert_cnt").alias("cert_total"),
        F.sum(F.size("tokens")).alias("total_tokens"),
    )
    # vocab_diversity needs a group-level distinct over exploded tokens
    vocab = (
        resp.select(group_col, F.explode_outer("tokens").alias("tok"))
        .groupBy(group_col)
        .agg(F.count_distinct("tok").alias("distinct_tokens"))
    )
    total_tokens = F.greatest(F.col("total_tokens"), F.lit(1))
    return (
        per_resp.join(vocab, group_col)
        .select(
            group_col,
            "refusal_rate",
            "avg_length",
            (F.col("distinct_tokens") / total_tokens).alias("vocab_diversity"),
            "markdown_rate",
            F.col("is_list_rate").alias("list_rate"),
            "code_block_rate",
            (F.col("hedge_total") / total_tokens).alias("hedging_rate"),
            (F.col("cert_total") / total_tokens).alias("certainty_rate"),
        )
    )


def js_divergence_pairs(dist: DataFrame, group_col: str = "model_id") -> DataFrame:
    """V3 for every unordered group pair: (model_a, model_b, js_divergence).

    Union-of-keys alignment (J4) built by keying each side's distribution with
    the pair, unioning, and aggregating — no full-outer join needed.
    """
    groups = dist.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.select(F.col("g").alias("model_a"))
        .join(
            F.broadcast(groups.select(F.col("g").alias("model_b"))),
            F.col("model_a") < F.col("model_b"),
        )
    )
    d = dist.select(F.col(group_col).alias("g"), "ngram", "weight")
    side_a = pairs.join(d, F.col("model_a") == F.col("g")).select(
        "model_a", "model_b", "ngram",
        F.col("weight").alias("wa"), F.lit(0.0).alias("wb"),
    )
    side_b = pairs.join(d, F.col("model_b") == F.col("g")).select(
        "model_a", "model_b", "ngram",
        F.lit(0.0).alias("wa"), F.col("weight").alias("wb"),
    )
    merged = (
        side_a.unionByName(side_b)
        .groupBy("model_a", "model_b", "ngram")
        .agg(F.sum("wa").alias("wa"), F.sum("wb").alias("wb"))
    )
    w = Window.partitionBy("model_a", "model_b")
    pa = F.col("wa") / F.greatest(F.sum("wa").over(w), F.lit(1e-300))
    qb = F.col("wb") / F.greatest(F.sum("wb").over(w), F.lit(1e-300))
    normed = merged.select(
        "model_a", "model_b", pa.alias("p"), qb.alias("q")
    ).withColumn("m", (F.col("p") + F.col("q")) / 2)
    kl_p = F.sum(
        F.when(
            (F.col("p") > 0) & (F.col("m") > 0),
            F.col("p") * F.log(F.col("p") / F.col("m")),
        ).otherwise(0.0)
    )
    kl_q = F.sum(
        F.when(
            (F.col("q") > 0) & (F.col("m") > 0),
            F.col("q") * F.log(F.col("q") / F.col("m")),
        ).otherwise(0.0)
    )
    return normed.groupBy("model_a", "model_b").agg(
        ((kl_p + kl_q) / 2).alias("js_divergence")
    )


def behavior_compare(
    df: DataFrame,
    group_col: str = "model_id",
    text_col: str = "text",
    threshold: float = DLI_THRESHOLD,
    confidence_k: float = DLI_CONFIDENCE_K,
) -> DataFrame:
    """V4+V7 per unordered group pair: blended DLI similarity verdict row.

    The distribution and feature aggregates are tiny (groups × top-100 /
    groups × 8) but sit on top of a full corpus scan; both are referenced
    from two sides of the pair join, so persist them — otherwise Spark
    re-runs the corpus scan per reference (2-4 extra scans at 100 TB).
    The two relations are independent corpus passes, so their cache
    fills run CONCURRENTLY (r13, guide §2.6) instead of leg-after-leg
    inside the final action's stage waves."""
    from model_audit_spark.persistence import fill_caches_concurrently

    dist = bigram_distribution(df, group_col, text_col).persist()
    js = js_divergence_pairs(dist, group_col)
    feats = behavior_features(df, group_col, text_col).persist()
    fill_caches_concurrently(
        [dist, feats],
        labels=["behavior_compare: bigrams", "behavior_compare: features"],
    )
    fa = feats.select(
        F.col(group_col).alias("model_a"),
        *[F.col(f).alias(f"a_{f}") for f in DLI_FEATURES],
    )
    fb = feats.select(
        F.col(group_col).alias("model_b"),
        *[F.col(f).alias(f"b_{f}") for f in DLI_FEATURES],
    )
    # Base = all group pairs from features (a group with no bigrams still has
    # features); JS missing for a pair means both bigram sets were empty ->
    # reference JS = 0.
    base = fa.join(F.broadcast(fb), F.col("model_a") < F.col("model_b"))
    joined = base.join(js, ["model_a", "model_b"], "left").withColumn(
        "js_divergence", F.coalesce(F.col("js_divergence"), F.lit(0.0))
    )
    dot = sum(
        (F.col(f"a_{f}") * F.col(f"b_{f}") for f in DLI_FEATURES), F.lit(0.0)
    )
    na = F.sqrt(
        sum((F.col(f"a_{f}") * F.col(f"a_{f}") for f in DLI_FEATURES), F.lit(0.0))
    )
    nb = F.sqrt(
        sum((F.col(f"b_{f}") * F.col(f"b_{f}") for f in DLI_FEATURES), F.lit(0.0))
    )
    feat_sim = F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        dot / (na * nb)
    )
    bigram_sim = 1.0 - F.least(
        F.col("js_divergence") / math.log(2), F.lit(1.0)
    )
    sim = bigram_sim * 0.4 + feat_sim * 0.6
    return joined.select(
        "model_a",
        "model_b",
        F.col("js_divergence"),
        bigram_sim.alias("bigram_sim"),
        feat_sim.alias("feature_sim"),
        F.round(sim, 6).alias("similarity"),
        (sim >= threshold).alias("is_derived"),
        F.lit(threshold).alias("threshold"),
        F.least(F.abs(sim - threshold) / confidence_k, F.lit(1.0)).alias(
            "confidence"
        ),
    )
