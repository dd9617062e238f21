"""Scalar text-feature expressions (SURVEY.md §2.3 F1-F19, F21, F26-F29).

Each function returns a pyspark Column built only from built-in SQL functions,
so every feature stays inside whole-stage codegen and is reusable unchanged in
Structured Streaming. Semantics mirror the reference implementations
(methods/llmmap.py:28-67, methods/dli.py:27-33, methods/style.py:231-302,
mcp_server.py:446-474) including their Python edge cases:
- `str.split()` on whitespace returns [] for blank strings,
- `or 1` / `max(x, 1)` denominators,
- `str.count` non-overlapping substring counting,
- `re.MULTILINE` anchors (expressed via the (?m) inline flag),
- Python `\\w` (Unicode word chars) expressed as [\\p{L}\\p{N}_] which both
  Java regex and DuckDB's RE2 interpret identically.

Construction: small helpers with a fixed number of calls (words,
word_tokens, detect_lang, text_preview) are DSL and take any Column.
Builders that loop over a catalog or over n (contains_any, ngrams over a
named column) are ONE parsed SQL string — each DSL call is a py4j round
trip, and the loops dominated driver-side build time. Their text quotes
catalog strings with similarity.sql_str and names with sql_ident.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from model_audit_spark.catalogs import (
    DLI_CERTAINTY_WORDS,
    DLI_HEDGING_WORDS,
    DLI_REFUSAL_PHRASES,
    REFUSAL_HINTS,
    REFUSAL_OPENERS,
    STYLE_MARKERS,
)
from model_audit_spark.operators.similarity import sql_ident, sql_str

# Unicode-portable equivalent of Python's \w (see module docstring).
WORD_CHARS = r"[\p{L}\p{N}_]+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def strip(col: Column | str) -> Column:
    """Python str.strip(): remove leading/trailing whitespace incl. newlines."""
    return F.regexp_replace(F.regexp_replace(_c(col), r"^\s+", ""), r"\s+$", "")


# Tokenizer contract note (r6, found by hypothesis): the separator
# class of words()/strip() is ASCII whitespace — Java regex \s == RE2
# \s == [ \t\n\x0b\f\r] — NOT Python str.split()'s full Unicode set,
# so U+00A0 / U+2007 / ideographic spaces are token CHARACTERS here.
# Deliberate and engine-portable: both gate engines share the ASCII
# class, keeping the tokenizer identical across JVM/RE2/streaming;
# normalize exotic whitespace at ingest if Python parity on such
# corpora matters. (Documented as a comment, not in the docstring:
# unit fingerprints include docstrings, and a prose-only edit must
# not re-stale every certified query downstream of this tokenizer —
# see DETERMINISM.md process rules.)
def words(col: Column | str) -> Column:
    """Python text.split(): whitespace tokens, [] for blank input (F1)."""
    t = strip(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def sentences(col: Column | str) -> Column:
    """re.split('[.!?]+') -> strip -> drop empties (F2)."""
    parts = F.split(_c(col), r"[.!?]+")
    stripped = F.transform(
        parts,
        lambda x: F.regexp_replace(F.regexp_replace(x, r"^\s+", ""), r"\s+$", ""),
    )
    return F.filter(stripped, lambda x: x != F.lit(""))


def count_substr(col: Column | str, needle: str) -> Column:
    """Non-overlapping occurrences of a literal substring (str.count)."""
    c = _c(col)
    return (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / len(
        needle
    )


def contains_any(col_sql: str, needles: list[str]) -> Column:
    """True iff any literal needle is a substring (Python `any(n in s)`)
    of the value `col_sql` (SQL text: a column name or an expression
    over one). One parsed `false OR contains(..) OR ..` chain."""
    return F.expr(
        " OR ".join(
            ["false"] + [f"contains({col_sql}, {sql_str(n)})" for n in needles]
        )
    )


def word_tokens(col: Column | str) -> Column:
    """re.findall(r'\\w+', text.lower()) — DLI tokenizer (F16)."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(WORD_CHARS), 0)


def ngrams_sql(words_sql: str, n: int = 2) -> str:
    """SQL text of the adjacent n-word grams of the token array
    `words_sql`, joined by a space (F17, reference dli.py:27-33).

    arrays_zip over n shifted slices, so the tokens array is referenced
    a CONSTANT number of times — per-element element_at lambdas get the
    token-array expression inlined by CollapseProject around
    Generate/Aggregate nodes, turning tokenization O(n²). SQL cannot
    alias arrays_zip's arguments, so the zipped fields carry their
    positional names `0`..`n-1`."""
    m = f"greatest(size({words_sql}) - {n - 1}, 0)"
    parts = ", ".join(f"slice({words_sql}, {i + 1}, {m})" for i in range(n))
    fields = ", ".join(f"t.`{i}`" for i in range(n))
    return f"transform(arrays_zip({parts}), t -> concat_ws(' ', {fields}))"


def ngrams(words_col: Column | str, n: int = 2) -> Column:
    """Adjacent n-word grams of a token array (ngrams_sql). A column
    name builds ONE parsed expression — the hot path: operators stage
    their tokens as a named column. A Column cannot be embedded in SQL
    text, so a Column input builds the same expression from DSL calls
    (same plan, pinned by test_ngrams_column_and_name_forms_plan_alike)."""
    if isinstance(words_col, str):
        return F.expr(ngrams_sql(sql_ident(words_col), n))
    m = F.greatest(F.size(words_col) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words_col, i + 1, m) for i in range(n)])
    return F.transform(
        zipped, lambda t: F.concat_ws(" ", *[t[str(i)] for i in range(n)])
    )


def bigrams(words_col: Column | str) -> Column:
    """Adjacent word pairs joined by a space (F17, reference dli.py:27-33)."""
    return ngrams(words_col, 2)


# ---------------------------------------------------------------------------
# llmmap per-response features (F3-F15, reference llmmap.py:28-67)
# ---------------------------------------------------------------------------

def llmmap_feature_columns(text_col: str = "text") -> dict[str, Column]:
    """The 13 scalar + 5 marker-category features for one response.

    Returns a name -> Column mapping; select them all in one projection so the
    words/sentences arrays are computed once (Catalyst CSE collapses the
    repeated subtrees).
    """
    c = F.col(text_col)
    lo = F.lower(c)
    w = words(c)
    s = sentences(c)
    n_words = F.size(w)
    total_words = F.greatest(n_words, F.lit(1))
    n_sent = F.size(s)
    length = F.length(c)

    feats: dict[str, Column] = {
        "length_chars": length.cast("double"),
        "length_words": n_words.cast("double"),
        "length_sentences": n_sent.cast("double"),
        # sum(len(w) for w in words) == chars of all words concatenated
        "avg_word_length":
            F.length(F.array_join(w, "")) / total_words,
        "avg_sentence_length":
            n_words / F.greatest(n_sent, F.lit(1)),
        "unique_word_ratio":
            F.size(F.array_distinct(F.transform(w, F.lower))) / total_words,
        "punctuation_ratio":
            (length - F.length(F.translate(c, ".,;:!?", "")))
            / F.greatest(length, F.lit(1)),
        "newline_ratio":
            (length - F.length(F.replace(c, F.lit("\n"), F.lit(""))))
            / F.greatest(length, F.lit(1)),
        "has_bullet_points": c.rlike(r"(?m)^[\s]*[-*•]\s"),
        "has_numbered_list": c.rlike(r"(?m)^[\s]*\d+[.)]\s"),
        "has_markdown_headers": c.rlike(r"(?m)^#+\s"),
        "has_code_blocks": c.contains("```"),
        "starts_with_refusal": _starts_with_any(lo, REFUSAL_OPENERS),
    }
    for cat, markers in STYLE_MARKERS.items():
        total = F.lit(0.0)
        for m in markers:
            total = total + count_substr(lo, m)
        feats[f"style_{cat}"] = total / total_words
    return feats


def _starts_with_any(lower_col: Column, prefixes: list[str]) -> Column:
    out = F.lit(False)
    for p in prefixes:
        out = out | lower_col.startswith(p)
    return out


def with_llmmap_features(df, text_col: str = "text"):
    """Project all llmmap per-response features onto df in one pass."""
    feats = llmmap_feature_columns(text_col)
    return df.select("*", *[col.alias(name) for name, col in feats.items()])


# ---------------------------------------------------------------------------
# Language detection (F19, reference style.py:231-238)
# ---------------------------------------------------------------------------

def cjk_count(col: Column | str) -> Column:
    c = _c(col)
    return F.length(c) - F.length(F.regexp_replace(c, "[一-鿿]", ""))


def detect_lang(col: Column | str) -> Column:
    """'zh' if >=10 CJK chars or CJK ratio > 0.15, else 'en'."""
    c = _c(col)
    cjk = cjk_count(c)
    total = F.greatest(F.length(c), F.lit(1))
    return (
        F.when(cjk >= 10, F.lit("zh"))
        .when(cjk / total > 0.15, F.lit("zh"))
        .otherwise(F.lit("en"))
    )


# Stopword profiles for the extended language-ID tier (F19 is the
# reference's CJK heuristic, kept verbatim as detect_lang; this is the
# multi-language scale extension). Words chosen to be high-frequency AND
# discriminative — shared forms (e.g. "a", "la" es/it, "de" fr/es/pt)
# are deliberately absent.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for"],
    "de": ["der", "die", "und", "ist", "nicht", "das", "ein", "mit"],
    "fr": ["le", "les", "est", "et", "dans", "une", "que", "pour"],
    "es": ["el", "los", "es", "y", "en", "una", "por", "como"],
    "pt": ["o", "os", "uma", "não", "em", "para", "com", "mais"],
    "it": ["il", "di", "che", "è", "per", "sono", "con", "della"],
}


def with_lang_profile(
    df: "DataFrame", text_col: str = "text", out_col: str = "lang_ext"
) -> "DataFrame":
    """Append detect_lang_profile's verdict as `out_col`, with the token
    array STAGED as a named column first — the fused form for corpus
    scans. The Column form embeds the word_tokens tree inside each of
    the six per-profile filter lambdas, and Spark's subexpression
    elimination skips lambda-bearing trees, so one verdict re-tokenized
    the text 6-7x per row (12 tokenizer subtrees measured in the
    lang_id_ext plan). Values identical to detect_lang_profile."""
    if "_lp_t" in df.columns or out_col in df.columns:
        raise ValueError(
            f"with_lang_profile: input frame already has _lp_t/{out_col}"
        )
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumn("_lp_t", word_tokens(c))
    verdict = _lang_profile_verdict(c, F.col("_lp_t"))
    return staged.withColumn(out_col, verdict).select(
        *df.columns, out_col
    )


def _lang_profile_verdict(c: Column, toks: Column) -> Column:
    """The detect_lang_profile decision tree over a provided token
    array (ideally a named attribute — see with_lang_profile)."""
    cjk = cjk_count(c)
    total = F.greatest(F.length(c), F.lit(1))
    scored = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(ws))).alias("hits"),
            F.lit(-rank).alias("neg_rank"),
            F.lit(lang).alias("lang"),
        )
        for rank, (lang, ws) in enumerate(LANG_PROFILES.items())
    ]
    best = F.array_max(F.array(*scored))
    return (
        F.when((cjk >= 10) | (cjk / total > 0.15), F.lit("zh"))
        .when(best["hits"] == 0, F.lit("und"))
        .otherwise(best["lang"])
    )


def detect_lang_profile(col: Column | str) -> Column:
    """Extended lang-ID: CJK heuristic first (F19 semantics), else argmax
    of stopword-profile hit counts over lowercase word tokens; 'und'
    (undetermined) when no profile scores a hit. Ties break by profile
    order (en first) via max(struct(hits, -lang_rank)) — deterministic
    under any partitioning. Pure expression: one token array, one pass
    per profile, no shuffle, no UDF. NULL text behaves as empty (repo
    convention) — without the coalesce, size(NULL tokens) = -1 skips the
    0-hit branch and NULL docs would claim the first profile.

    NOTE: the token array is embedded in each profile's filter lambda,
    and lambda-bearing trees are skipped by subexpression elimination —
    corpus scans should use with_lang_profile (staged, identical
    values) instead of this inline Column form."""
    c = F.coalesce(_c(col), F.lit(""))
    cjk = cjk_count(c)
    total = F.greatest(F.length(c), F.lit(1))
    toks = word_tokens(c)
    scored = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(ws))).alias("hits"),
            F.lit(-rank).alias("neg_rank"),
            F.lit(lang).alias("lang"),
        )
        for rank, (lang, ws) in enumerate(LANG_PROFILES.items())
    ]
    best = F.array_max(F.array(*scored))
    return (
        F.when((cjk >= 10) | (cjk / total > 0.15), F.lit("zh"))
        .when(best["hits"] == 0, F.lit("und"))
        .otherwise(best["lang"])
    )


# ---------------------------------------------------------------------------
# Style-scoring structural flags (reference style.py:248-257)
# ---------------------------------------------------------------------------

def style_flag_columns(text_col: str = "text") -> dict[str, Column]:
    """Per-text flags computed once, reused across all 12 family scores."""
    c = F.col(text_col)
    lo = F.lower(c)
    return {
        "text_lower": lo,
        "text_lang": detect_lang(c),
        "has_md": c.rlike(r"(?m)^#+\s"),
        "has_numbered": c.rlike(r"(?m)^\s*\d+[.)]\s"),
        "has_code_blocks": c.contains("```"),
        "is_verbose": F.size(words(lo)) > 150,
        "has_refusal_hint": contains_any(
            f"lower({sql_ident(text_col)})", REFUSAL_HINTS
        ),
    }


def text_preview(col: Column | str, max_len: int = 80) -> Column:
    """First 80 chars + '...', then newlines -> spaces (style.py:326-327)."""
    c = _c(col)
    cut = F.when(
        F.length(c) > max_len,
        F.concat(F.substring(c, 1, max_len), F.lit("...")),
    ).otherwise(c)
    return F.replace(cut, F.lit("\n"), F.lit(" "))


# ---------------------------------------------------------------------------
# DLI response-level predicates (reference dli.py:83-110)
# ---------------------------------------------------------------------------

def dli_refusal_flag(text_col: str) -> Column:
    return contains_any(f"lower({sql_ident(text_col)})", DLI_REFUSAL_PHRASES)


def dli_hedging_count(lower_col: Column) -> Column:
    total = F.lit(0.0)
    for wd in DLI_HEDGING_WORDS:
        total = total + count_substr(lower_col, wd)
    return total


def dli_certainty_count(lower_col: Column) -> Column:
    total = F.lit(0.0)
    for wd in DLI_CERTAINTY_WORDS:
        total = total + count_substr(lower_col, wd)
    return total


# ---------------------------------------------------------------------------
# Watermark signals (F26-F29, reference mcp_server.py:446-474)
# ---------------------------------------------------------------------------

# The score contract, shared by BOTH implementations below (the
# dict-of-columns form and the fused projection form) so a weight or
# threshold tweak can never drift them apart: each signal contributes
# its weight when its predicate fires; the variance/uniqueness legs
# apply only past the statistical floor.
WM_MIN_WORDS_STAT = 20
WM_VAR_THRESHOLD = 2.0
WM_UNIQUE_THRESHOLD = 0.5
WM_DOUBLE_SPACE_THRESHOLD = 3
WM_WEIGHTS = {"variance": 0.3, "unique": 0.2, "zero_width": 0.5,
              "double_space": 0.2}
WM_LEVEL_HIGH = 0.5
WM_LEVEL_MEDIUM = 0.3


def _wm_score_expr(
    variance: Column, unique_ratio: Column, zwc: Column,
    double_space: Column, n_words: Column,
) -> Column:
    """The raw watermark score from the four (already-built) signal
    columns — the single home of the weights/thresholds above."""
    stat = n_words > WM_MIN_WORDS_STAT
    return (
        F.when(
            stat & (variance < WM_VAR_THRESHOLD),
            F.lit(WM_WEIGHTS["variance"]),
        ).otherwise(0.0)
        + F.when(
            stat & (unique_ratio < WM_UNIQUE_THRESHOLD),
            F.lit(WM_WEIGHTS["unique"]),
        ).otherwise(0.0)
        + F.when(zwc > 0, F.lit(WM_WEIGHTS["zero_width"])).otherwise(0.0)
        + F.when(
            double_space > WM_DOUBLE_SPACE_THRESHOLD,
            F.lit(WM_WEIGHTS["double_space"]),
        ).otherwise(0.0)
    )


def _wm_level_expr(score: Column) -> Column:
    return (
        F.when(score >= WM_LEVEL_HIGH, "high")
        .when(score >= WM_LEVEL_MEDIUM, "medium")
        .otherwise("low")
    )


def watermark_columns(text_col: str = "text") -> dict[str, Column]:
    c = F.col(text_col)
    w = words(c)
    n = F.size(w)
    lens = F.transform(w, lambda x: F.length(x).cast("double"))
    # var = E[x²] − E[x]² in ONE array pass. A lambda that references the
    # mean (itself an array aggregate) re-evaluates it per element → O(n²).
    # Word lengths are small integers, so the sums are exact in double and
    # the algebraic form matches Σ(x−mean)²/n at 6dp rounding.
    denom = F.greatest(n, F.lit(1))
    sums = F.aggregate(
        lens,
        F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("q")),
        lambda a, x: F.struct(
            (a["s"] + x).alias("s"), (a["q"] + x * x).alias("q")
        ),
    )
    variance = sums["q"] / denom - (sums["s"] / denom) * (sums["s"] / denom)
    bg = bigrams(w)
    n_bg = F.size(bg)
    unique_ratio = F.when(n_bg > 0, F.size(F.array_distinct(bg)) / n_bg).otherwise(
        F.lit(1.0)
    )
    zwc = F.length(c) - F.length(
        F.translate(c, "​‌‍﻿", "")
    )
    double_space = (
        F.length(c) - F.length(F.replace(c, F.lit("  "), F.lit("")))
    ) / 2
    score = _wm_score_expr(variance, unique_ratio, zwc, double_space, n)
    return {
        "wm_word_len_variance": variance,
        "wm_bigram_unique_ratio": unique_ratio,
        "wm_zero_width_count": zwc.cast("bigint"),
        "wm_double_space_count": double_space.cast("bigint"),
        "wm_score": F.round(score, 2),
        "wm_level": _wm_level_expr(score),
    }


def with_watermark_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the six wm_* watermark-signal columns, single-tokenization.

    Same arithmetic and output contract as watermark_columns() — identical
    values column-for-column — but fused: watermark_columns() returns one
    expression tree per output, so wm_score re-embeds all four marker
    trees and wm_level re-embeds wm_score; higher-order lambdas carry
    fresh variable ids, which defeats codegen subexpression elimination,
    so the text is re-tokenized and re-scanned up to 4× per row (the
    measured exp-0.70 per-row constant at 100×, SCALE.md). Here each
    non-cheap producer (token array, bigram array, the four metrics, the
    raw score) is materialized as a named column in its own projection;
    CollapseProject keeps a multiply-referenced non-cheap alias as a
    stage-local value computed once, all inside one WholeStageCodegen —
    no shuffle, no extra pass over the data.
    """
    clash = [
        name
        for name in df.columns
        if name.startswith("wm_") or name.startswith("_wm_")
    ]
    if clash:
        # withColumn would silently REPLACE these and the final select
        # would then list the name twice (ambiguous-column failure
        # downstream) — refuse up front instead.
        raise ValueError(
            "with_watermark_signals: input frame already has reserved "
            f"wm_*/_wm_* column(s): {clash}"
        )
    c = F.col(text_col)
    w = F.col("_wm_w")
    lens = F.transform(w, lambda x: F.length(x).cast("double"))
    denom = F.greatest(F.size(w), F.lit(1))
    sums = F.aggregate(
        lens,
        F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("q")),
        lambda a, x: F.struct(
            (a["s"] + x).alias("s"), (a["q"] + x * x).alias("q")
        ),
    )
    bg = F.col("_wm_bg")
    n_bg = F.size(bg)
    variance = F.col("wm_word_len_variance")
    unique_ratio = F.col("wm_bigram_unique_ratio")
    zwc = F.col("wm_zero_width_count")
    double_space = F.col("_wm_dsp")
    score = _wm_score_expr(
        variance, unique_ratio, zwc, double_space, F.col("_wm_n")
    )
    out_cols = [x for x in df.columns] + [
        "wm_word_len_variance",
        "wm_bigram_unique_ratio",
        "wm_zero_width_count",
        "wm_double_space_count",
        "wm_score",
        "wm_level",
    ]
    return (
        df.withColumn("_wm_w", words(c))
        .withColumns({"_wm_bg": bigrams(w), "_wm_n": F.size(w)})
        .withColumns(
            {
                "wm_word_len_variance": sums["q"] / denom
                - (sums["s"] / denom) * (sums["s"] / denom),
                "wm_bigram_unique_ratio": F.when(
                    n_bg > 0, F.size(F.array_distinct(bg)) / n_bg
                ).otherwise(F.lit(1.0)),
                "wm_zero_width_count": (
                    F.length(c)
                    - F.length(F.translate(c, "​‌‍﻿", ""))
                ).cast("bigint"),
                "_wm_dsp": (
                    F.length(c)
                    - F.length(F.replace(c, F.lit("  "), F.lit("")))
                )
                / 2,
            }
        )
        .withColumn("_wm_score", score)
        .withColumns(
            {
                "wm_double_space_count": double_space.cast("bigint"),
                "wm_score": F.round(F.col("_wm_score"), 2),
                "wm_level": _wm_level_expr(F.col("_wm_score")),
            }
        )
        .select(*out_cols)
    )
