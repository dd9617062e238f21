"""The hot-path builders construct their expressions as parsed SQL text.

Each equivalence test keeps the previous DSL (per-operator Column call)
construction verbatim and asserts that the parsed form analyzes to the
same Catalyst plan (`sameResult` canonicalizes expression ids and lambda
variable names) and collects the same rows — the pattern of
test_pq_sql_text_equals_dsl_construction. A drift in the SQL text (a
literal type, a fold order, an association) fails here before it can
touch an oracle hash.

The budget test counts py4j round trips while the benchmark operations
are BUILT (no action runs): a return to Python loops of Column calls in
these builders multiplies the count past its bound.
"""

from __future__ import annotations

import collections
from contextlib import contextmanager

import pytest
from hypothesis import given, settings, HealthCheck
from hypothesis import strategies as st
from pyspark.sql import functions as F

from model_audit_spark.persistence import release_all

@contextmanager
def py4j_round_trips():
    """Count py4j commands sent to the JVM inside the block, keyed by
    the command's first letter (c call, r reflection, i constructor,
    m GC delete, ...)."""
    from py4j.clientserver import ClientServerConnection

    counts: collections.Counter = collections.Counter()
    orig = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        counts[command[:1]] += 1
        return orig(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield counts
    finally:
        ClientServerConnection.send_command = orig


def _same(new, old):
    assert new.columns == old.columns
    assert new._jdf.queryExecution().analyzed().sameResult(
        old._jdf.queryExecution().analyzed()
    )
    assert sorted(map(tuple, new.collect()), key=repr) == sorted(
        map(tuple, old.collect()), key=repr
    )


@pytest.fixture(scope="module")
def docs(spark):
    """400 seeded docs that reach every scoring and curation branch:
    catalog markers and refusal hints (apostrophes, CJK), markdown,
    numbered lists, code blocks, long and empty texts, exact copies and
    near copies."""
    import random

    from model_audit_spark.catalogs import REFUSAL_HINTS, STYLE_SIGNATURES

    rng = random.Random(11)
    vocab = ["the", "a", "of", "data", "model", "is", "and", "to", "on",
             "corpus", "text", "we", "run", "fast", "graph"] + [
        f"w{i}" for i in range(300)]
    texts = []
    for i in range(400):
        if i % 10 == 9 and i > 20:          # exact or near copy
            src = texts[rng.randrange(len(texts))]
            texts.append(src if i % 20 == 9 else src + " dup")
            continue
        parts = [" ".join(rng.choice(vocab)
                          for _ in range(rng.choice([0, 5, 40, 200])))]
        sig = STYLE_SIGNATURES[rng.randrange(len(STYLE_SIGNATURES))]
        parts += rng.sample(sig[1], min(len(sig[1]), rng.randrange(4)))
        if rng.random() < 0.2:
            parts.append(rng.choice(REFUSAL_HINTS + sig[2]))
        if rng.random() < 0.2:
            parts.append("# Heading\n1. first\n2) second\n```code```")
        if rng.random() < 0.1:
            parts.append("这是一段关于机器学习的中文句子")
        texts.append("\n".join(parts))
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )


# ---------------------------------------------------------------------------
# The previous DSL construction, verbatim


def dsl_contains_any(col, needles):
    c = F.col(col) if isinstance(col, str) else col
    out = F.lit(False)
    for n in needles:
        out = out | c.contains(n)
    return out


def dsl_style_flag_columns(text_col="text"):
    from model_audit_spark.catalogs import REFUSAL_HINTS
    from model_audit_spark.functions.text import detect_lang, words

    c = F.col(text_col)
    lo = F.lower(c)
    return {
        "text_lower": lo,
        "text_lang": detect_lang(c),
        "has_md": c.rlike(r"(?m)^#+\s"),
        "has_numbered": c.rlike(r"(?m)^\s*\d+[.)]\s"),
        "has_code_blocks": c.contains("```"),
        "is_verbose": F.size(words(lo)) > 150,
        "has_refusal_hint": dsl_contains_any(lo, REFUSAL_HINTS),
    }


def dsl_flag_base(df, text_col, keep):
    flag_exprs = dsl_style_flag_columns(text_col)
    base = df.select(
        *keep, *[c.alias(f"_sf_{n}") for n, c in flag_exprs.items()]
    )
    refs = {n: F.col(f"_sf_{n}") for n in flag_exprs}
    return base, refs


def dsl_family_score_exprs(text_col="text", flags=None):
    from model_audit_spark.catalogs import STYLE_SIGNATURES

    if flags is None:
        flags = dsl_style_flag_columns(text_col)
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


def dsl_style_score_entries(text_col="text", flags=None):
    return F.array(
        *[
            F.struct(
                F.lit(fam).alias("family"),
                F.lit(rank).alias("family_rank"),
                score.alias("score"),
            )
            for fam, rank, score in dsl_family_score_exprs(text_col, flags)
        ]
    )


def dsl_detection_columns(text_col="text", flags=None):
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    score.alias("score"),
                    F.lit(-rank).alias("neg_rank"),
                    F.lit(fam).alias("family"),
                )
                for fam, rank, score in dsl_family_score_exprs(text_col, flags)
            ]
        )
    )
    return {
        "predicted_model": best["family"],
        "confidence": best["score"],
    }


def dsl_ngrams(words_col, n=2):
    m = F.greatest(F.size(words_col) - (n - 1), F.lit(0))
    parts = [F.slice(words_col, i + 1, m).alias(f"_g{i}") for i in range(n)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped, lambda t: F.concat_ws(" ", *[t[f"_g{i}"] for i in range(n)])
    )


def dsl_shingles_df(df, text_col="text", id_col="doc_id", shingle_n=3,
                    keep_cols=()):
    from model_audit_spark.functions.text import word_tokens

    t = df.select(
        F.col(id_col), *keep_cols, word_tokens(text_col).alias("_w")
    )
    return t.select(
        id_col, *keep_cols,
        F.array_distinct(dsl_ngrams(F.col("_w"), shingle_n)).alias("sh"),
    )


def dsl_minhash_fold(hash_array, num_hashes):
    from model_audit_spark.operators.dedup import MINHASH_PRIME, minhash_coeffs

    coeffs = minhash_coeffs(num_hashes)
    init = F.struct(
        *[
            F.lit(MINHASH_PRIME).cast("long").alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )
    return F.aggregate(
        F.coalesce(hash_array, F.array().cast("array<long>")),
        init,
        lambda acc, hv: F.struct(
            *[
                F.least(
                    acc[f"mh_{i}"],
                    (F.lit(a) * hv + F.lit(b)) % F.lit(MINHASH_PRIME),
                ).alias(f"mh_{i}")
                for i, (a, b) in enumerate(coeffs)
            ]
        ),
    )


def dsl_minhash_signatures(df, id_col="doc_id", num_hashes=16, shingles=None):
    from model_audit_spark.operators.dedup import shingles_df

    rel = shingles if shingles is not None else shingles_df(df)
    h = F.transform(
        F.col("sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    with_sig = rel.select(
        F.col(id_col), dsl_minhash_fold(h, num_hashes).alias("_sig")
    )
    return with_sig.select(
        F.col(id_col),
        *[
            F.col("_sig").getField(f"mh_{i}").alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


def dsl_lsh_band_rows(sigs, id_col="doc_id", num_hashes=16, bands=4,
                      keep_cols=()):
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("bh"),
            )
        )
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select(
        id_col,
        *keep_cols,
        F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
    )


def dsl_minhash_band_pairs(sigs, id_col="doc_id", num_hashes=16, bands=4):
    exploded = dsl_lsh_band_rows(sigs, id_col, num_hashes, bands)
    buckets = (
        exploded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
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
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def dsl_jaccard_verify(pairs, rel, id_col="doc_id", min_jaccard=0.0):
    """jaccard_verify's DSL body (the caller supplies the shingles)."""
    sh_a = rel.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("_sh_a")
    )
    sh_b = rel.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("_sh_b")
    )
    n_inter = F.coalesce(
        F.size(F.array_intersect("_sh_a", "_sh_b")), F.lit(0)
    )
    out = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
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
    )
    if min_jaccard > 0:
        return out.filter(F.col("jaccard") >= min_jaccard)
    return out.filter(F.col("jaccard") > 0)


def dsl_with_doc_stats(df, text_col="text", names=None):
    from model_audit_spark.functions.text import detect_lang, word_tokens, words
    from model_audit_spark.operators.text_analysis import (
        DOC_STAT_NAMES,
        STOPWORDS,
        token_count_bpe,
    )

    names = list(DOC_STAT_NAMES) if names is None else list(names)
    need = set(names)
    c = F.col(text_col)
    out = df
    stage1 = {}
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

    stage2 = {}
    if need_toks:
        stage2["_ds_nt"] = F.size(F.col("_ds_t"))
        if need & {"stopword_ratio", "quality_score"}:
            stage2["_ds_sh"] = F.size(
                F.filter(F.col("_ds_t"), lambda t: t.isin(STOPWORDS))
            )
        if need & {"mean_word_len", "quality_score"}:
            stage2["_ds_jl"] = F.length(F.array_join(F.col("_ds_t"), ""))
    if need_words:
        stage2["_ds_nw"] = F.size(F.col("_ds_w"))
    if need & {"punct_ratio", "quality_score"}:
        stage2["_ds_pr"] = (
            F.length(c) - F.length(F.translate(c, ".,;:!?", ""))
        ) / F.greatest(F.length(c), F.lit(1))
    if stage2:
        out = out.withColumns(stage2)

    tot = F.greatest(F.col("_ds_nt"), F.lit(1)) if need_toks else None
    final = {}
    for name in names:
        if name == "n_chars":
            final[name] = F.length(c)
        elif name == "n_words":
            final[name] = F.col("_ds_nw")
        elif name == "n_tokens":
            final[name] = F.col("_ds_nt")
        elif name == "n_bpe_tokens":
            final[name] = token_count_bpe(c)
        elif name == "mean_word_len":
            final[name] = F.round(F.col("_ds_jl") / tot, 6)
        elif name == "punct_ratio":
            final[name] = F.round(F.col("_ds_pr"), 6)
        elif name == "stopword_ratio":
            final[name] = F.round(F.col("_ds_sh") / tot, 6)
        elif name == "quality_score":
            len_score = F.least(
                F.greatest((F.col("_ds_nw") - 20) / 80.0, F.lit(0.0)),
                F.lit(1.0),
            )
            stop_score = F.least(
                (F.col("_ds_sh") / tot) / 0.3, F.lit(1.0)
            )
            mean_wlen = F.col("_ds_jl") / tot
            wlen_score = F.when(
                (mean_wlen >= 3.0) & (mean_wlen <= 8.0), 1.0
            ).otherwise(0.0)
            punct_score = F.when(
                F.col("_ds_pr") <= 0.1, 1.0
            ).otherwise(0.0)
            final[name] = F.round(
                0.25 * len_score + 0.25 * stop_score
                + 0.25 * wlen_score + 0.25 * punct_score,
                6,
            )
        elif name == "lang_pred":
            final[name] = detect_lang(c)
    return out.withColumns(final).select(*df.columns, *names)


def dsl_contamination(train_df, eval_df, id_col="doc_id", shingle_n=5):
    from model_audit_spark.operators.dedup import shingles_df

    ev = F.broadcast(
        shingles_df(eval_df, "text", id_col, shingle_n)
        .select(F.explode_outer("sh").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(F.md5("_s").alias("_h"))
        .distinct()
    )
    long = shingles_df(train_df, "text", id_col, shingle_n).select(
        id_col,
        F.size("sh").cast("long").alias("n_sh"),
        F.explode_outer("sh").alias("_s"),
    ).filter(F.col("_s").isNotNull())
    hashed = long.select(id_col, "n_sh", F.md5("_s").alias("_h"))
    return (
        hashed.join(ev, "_h")
        .groupBy(id_col, "n_sh")
        .agg(F.count("*").alias("n_overlap"))
        .select(
            id_col,
            "n_sh",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.greatest(F.col("n_sh"), F.lit(1)), 6
            ).alias("overlap_frac"),
        )
    )


def dsl_curate_corpus(docs, text_col="text", id_col="doc_id",
                      min_quality=0.5, langs=("en",), min_jaccard=0.5):
    from pyspark.sql import Window

    from model_audit_spark.operators.dedup import shingles_df

    base = dsl_with_doc_stats(
        docs.select(F.col(id_col), F.col(text_col)),
        text_col,
        names=["quality_score", "lang_pred"],
    ).select(
        F.col(id_col),
        "quality_score",
        "lang_pred",
        F.md5(F.col(text_col)).alias("text_hash"),
    )
    w = Window.partitionBy("text_hash").orderBy(id_col)
    flagged = base.withColumn("is_first", F.row_number().over(w) == 1)
    shing = shingles_df(docs, text_col, id_col)
    sigs = dsl_minhash_signatures(docs, id_col, shingles=shing)
    pairs = dsl_jaccard_verify(
        dsl_minhash_band_pairs(sigs, id_col), shing, id_col,
        min_jaccard=min_jaccard,
    )
    near = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    out = flagged.join(F.broadcast(near), id_col, "left")
    reason = (
        F.when(~F.col("lang_pred").isin(list(langs)), "lang")
        .when(F.col("quality_score") < min_quality, "quality")
        .when(~F.col("is_first"), "exact_dup")
        .when(F.col("is_near_dup"), "near_dup")
    )
    return out.select(
        F.col(id_col),
        "lang_pred",
        "quality_score",
        reason.alias("drop_reason"),
        reason.isNull().alias("kept"),
    )


# ---------------------------------------------------------------------------
# Parsed form == DSL form


def dsl_detection_distribution(detections):
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


def test_detect_sql_text_equals_dsl_construction(spark, docs):
    from model_audit_spark.functions.text import text_preview
    from model_audit_spark.operators.detect import (
        detect,
        detection_distribution,
        style_scores,
    )

    base, refs = dsl_flag_base(
        docs, "text",
        [F.col("doc_id"), text_preview("text").alias("text_preview")],
    )
    cols = dsl_detection_columns("text", refs)
    old = base.select(
        F.col("doc_id"),
        "text_preview",
        cols["predicted_model"].alias("predicted_model"),
        cols["confidence"].alias("confidence"),
    )
    new = detect(docs, spark, "text", "doc_id")
    _same(new, old)
    _same(detection_distribution(new), dsl_detection_distribution(old))

    base, refs = dsl_flag_base(docs, "text", [F.col("doc_id")])
    old_scores = base.select(
        F.col("doc_id"),
        F.explode(dsl_style_score_entries("text", refs)).alias("e"),
    ).select("doc_id", "e.family", "e.family_rank", "e.score")
    _same(style_scores(docs, spark, "text", "doc_id"), old_scores)


def test_streaming_detect_sql_text_equals_dsl_construction(spark, docs):
    """streaming_detect is a pure projection: the same builder over a
    batch relation must plan exactly like the DSL detection_columns."""
    from model_audit_spark.functions.text import text_preview
    from model_audit_spark.streaming import streaming_detect

    base, refs = dsl_flag_base(
        docs, "text",
        [F.col("doc_id"), text_preview("text").alias("text_preview")],
    )
    cols = dsl_detection_columns("text", refs)
    old = base.select(
        F.col("doc_id"),
        "text_preview",
        cols["predicted_model"].alias("predicted_model"),
        cols["confidence"].alias("confidence"),
    )
    _same(streaming_detect(docs, "text", "doc_id"), old)


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngrams_column_and_name_forms_plan_alike(spark, n):
    """ngrams over a column name (parsed text) and over a Column (DSL
    calls, the only way to take an arbitrary Column) build one plan."""
    from model_audit_spark.functions.text import ngrams

    df = spark.createDataFrame(
        [(["a", "b", "c", "d", "e"],), (["x"],), ([],), (None,)],
        "w ARRAY<STRING>",
    )
    _same(
        df.select(ngrams("w", n).alias("g")),
        df.select(ngrams(F.col("w"), n).alias("g")),
    )


@pytest.mark.parametrize("n", [3, 5])
def test_shingles_sql_text_equals_dsl_construction(spark, docs, n):
    """The one exception to sameResult: SQL cannot alias arrays_zip's
    arguments, so the parsed n-gram zip names its fields `0`..`n-1`
    where the DSL named them `_g0`.. — internal to the expression. The
    rows and the physical operators are the same."""
    from model_audit_spark.operators.dedup import shingles_df

    new, old = shingles_df(docs, shingle_n=n), dsl_shingles_df(docs, shingle_n=n)
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )
    assert (new._jdf.queryExecution().executedPlan().treeString().count("\n")
            == old._jdf.queryExecution().executedPlan().treeString().count("\n"))


def test_minhash_sql_text_equals_dsl_construction(spark, docs):
    """Signature fold and 16-field split, band rows, in-bucket pair
    expansion and the verify projection, each against its DSL form."""
    from model_audit_spark.operators.dedup import (
        jaccard_verify,
        lsh_band_rows,
        minhash_band_pairs,
        minhash_signatures,
        shingles_df,
    )

    sigs = minhash_signatures(docs)
    _same(sigs, dsl_minhash_signatures(docs))
    _same(lsh_band_rows(sigs), dsl_lsh_band_rows(sigs))
    pairs = minhash_band_pairs(sigs)
    _same(pairs, dsl_minhash_band_pairs(sigs))
    assert pairs.count() > 0
    shing = shingles_df(docs)
    for thr in (0.0, 0.5):
        _same(
            jaccard_verify(docs, pairs, min_jaccard=thr, shingles=shing),
            dsl_jaccard_verify(pairs, shing, min_jaccard=thr),
        )
    release_all()


@pytest.mark.parametrize(
    "names", [None, ["quality_score", "lang_pred"], ["punct_ratio"]]
)
def test_doc_stats_sql_text_equals_dsl_construction(spark, docs, names):
    from model_audit_spark.operators.text_analysis import with_doc_stats

    _same(
        with_doc_stats(docs, "text", names=names),
        dsl_with_doc_stats(docs, "text", names=names),
    )


def test_contamination_sql_text_equals_dsl_construction(spark, docs):
    from model_audit_spark.operators.decontam import contamination

    train = docs.filter("doc_id < 300")
    ev = docs.filter("doc_id >= 250")
    new = contamination(train, ev)
    _same(new, dsl_contamination(train, ev))
    assert new.count() > 0


def test_curate_sql_text_equals_dsl_construction(spark, docs):
    from model_audit_spark.operators.curate import curate_corpus

    _same(curate_corpus(docs), dsl_curate_corpus(docs))
    release_all()


def dsl_probe_many(spark, path, queries, k=10, nprobe=3,
                   qid_col="query_id", id_col="vec_id"):
    from pyspark.sql import Window

    from model_audit_spark.operators.similarity import _dot

    cdf = spark.read.parquet(f"{path}/centroids")
    params = spark.read.parquet(f"{path}/params")
    codes = spark.read.parquet(f"{path}/codes").withColumn(
        "cluster", F.col("cluster").cast("int")
    )
    scored_cells = queries.crossJoin(F.broadcast(cdf)).select(
        qid_col,
        "qv",
        "cid",
        (_dot(F.col("qv"), F.col("cv")) / F.col("cn")).alias("s"),
    )
    wq = Window.partitionBy(qid_col).orderBy(F.desc("s"), F.asc("cid"))
    cells = (
        scored_cells.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(qid_col, "qv", "cid")
    )
    qprep = cells.crossJoin(F.broadcast(params)).select(
        qid_col,
        "cid",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("mns"), lambda qv, mn: qv * mn),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("qconst"),
        F.zip_with(
            F.col("qv"), F.col("rgs"), lambda qv, rg: qv * rg / 255.0
        ).alias("qscale"),
    )
    joined = codes.join(
        F.broadcast(qprep), F.col("cluster") == F.col("cid")
    )
    score = F.col("qconst") + F.aggregate(
        F.zip_with(
            F.col("qscale"),
            F.col("codes"),
            lambda s, c: s * c.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wk = Window.partitionBy(qid_col).orderBy(
        F.desc("approx_dot"), F.asc(id_col)
    )
    return (
        joined.select(
            F.col(qid_col),
            F.col(id_col),
            F.round(score, 6).alias("approx_dot"),
        )
        .withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
        .orderBy(qid_col, F.desc("approx_dot"), F.asc(id_col))
    )


def test_ivf_probe_many_sql_text_equals_dsl_construction(spark, tmp_path):
    from model_audit_spark.operators.similarity import (
        as_double_array,
        ivf_sq8_index_probe_many,
        ivf_sq8_index_write,
    )

    import random

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    path = str(tmp_path / "idx")
    ivf_sq8_index_write(emb, path, n_clusters=8)
    queries = emb.filter("vec_id IN (0, 3, 7)").select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("qv"),
    )
    _same(
        ivf_sq8_index_probe_many(spark, path, queries, k=5),
        dsl_probe_many(spark, path, queries, k=5),
    )


# ---------------------------------------------------------------------------
# The string-literal helper


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(s=st.one_of(
    st.text(),
    st.text(alphabet="'\\\"$`{}\n\r\t -;/*安全拒绝é😀", max_size=30),
    st.sampled_from(["certainly! here's", "${spark.app.name}", "\\u0041",
                     "'; --", "a''b", "\\'"]),
))
def test_sql_str_parses_to_the_same_literal(spark, s):
    from model_audit_spark.operators.similarity import sql_str

    row = spark.range(1).select(
        F.expr(sql_str(s)).alias("a"), F.lit(s).alias("b")
    ).first()
    assert row.a == row.b == s


def test_catalog_strings_quote_exactly(spark):
    """Every catalog string the builders embed — markers with
    apostrophes, CJK refusal hints — parses back to itself."""
    from model_audit_spark.catalogs import REFUSAL_HINTS, STYLE_SIGNATURES
    from model_audit_spark.operators.similarity import sql_str

    strings = sorted(
        {x for sig in STYLE_SIGNATURES for x in (sig[0], *sig[1], *sig[2],
                                                 sig[7])}
        | set(REFUSAL_HINTS)
    )
    assert any("'" in x for x in strings)
    assert any(ord(ch) > 0x2E80 for x in strings for ch in x)
    got = spark.range(1).select(
        F.expr("array(" + ", ".join(sql_str(x) for x in strings) + ")")
    ).first()[0]
    assert got == strings


# ---------------------------------------------------------------------------
# Construction round-trip budgets

# Calls, reflection lookups and constructors while building (GC deletes
# are left out: they follow the Python collector's timing, not the
# builder). About 1.5x the measured count of each parsed-text build
# (local[4]).
BUDGETS = {
    "detect": 350,                     # measured 233; DSL form 1636
    "curate": 690,                     # 460; 1867
    "sign_band_verify": 355,           # 237; 1397
    "decontaminate": 255,              # 170; 468
    "incremental_dedup_pairs": 400,    # 268; 1402
}


def test_construction_round_trip_budgets(spark, docs, tmp_path):
    from model_audit_spark.operators.curate import curate_corpus
    from model_audit_spark.operators.decontam import decontaminate
    from model_audit_spark.operators.dedup import (
        incremental_dedup_pairs,
        jaccard_verify,
        minhash_band_pairs,
        minhash_index_read,
        minhash_index_write,
        minhash_signatures,
    )
    from model_audit_spark.operators.detect import (
        detect,
        detection_distribution,
    )

    corpus = docs.filter("doc_id < 400")
    batch = docs.filter("doc_id >= 400")
    minhash_index_write(corpus, str(tmp_path / "idx"))
    index = minhash_index_read(spark, str(tmp_path / "idx"))
    builds = {
        "detect": lambda: detection_distribution(
            detect(docs, spark, "text", "doc_id")
        ),
        "curate": lambda: curate_corpus(docs),
        "sign_band_verify": lambda: jaccard_verify(
            docs, minhash_band_pairs(minhash_signatures(docs)),
            min_jaccard=0.5,
        ),
        "decontaminate": lambda: decontaminate(corpus, batch),
        "incremental_dedup_pairs": lambda: incremental_dedup_pairs(
            batch, index, corpus
        ),
    }
    counts = {}
    try:
        for name, build in builds.items():
            build()   # warm: first-use class lookups are not the budget
            with py4j_round_trips() as c:
                build()
            counts[name] = c["c"] + c["r"] + c["i"]
    finally:
        release_all()
    over = {k: (v, BUDGETS[k]) for k, v in counts.items() if v > BUDGETS[k]}
    assert not over, f"round trips over budget (count, bound): {over}"
