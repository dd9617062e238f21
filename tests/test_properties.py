"""Property-based invariants (hypothesis) over the expression layer.

Each test runs ONE Spark job per generated example (a whole batch of
texts at once, never per-row jobs), few examples, no deadline — the
point is adversarial *inputs* (unicode, markers, empty/whitespace, long
texts), not statistical volume.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from model_audit_spark.catalogs import STYLE_SIGNATURES

# Text soup biased toward the scoring branches: real markers, refusal
# hints, markdown structure, CJK, plus arbitrary unicode noise.
_MARKERS = [m for _, markers, refusals, *_ in STYLE_SIGNATURES
            for m in list(markers)[:2] + list(refusals)[:1]]
_FRAGMENTS = st.sampled_from(
    _MARKERS
    + ["# Title\n", "1. first\n2. second\n", "```py\nx=1\n```", "我无法提供",
       "好的，以下是", "   ", "\n\n", "I cannot help with that."]
)
_NOISE = st.text(max_size=40)
_TEXT = st.lists(_FRAGMENTS | _NOISE, min_size=0, max_size=8).map("".join)
_SETTINGS = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _docs(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


@given(texts=st.lists(_TEXT, min_size=1, max_size=20))
@_SETTINGS
def test_argmax_detect_agrees_with_explode_scores(spark, texts):
    """The single-projection argmax form (detection_columns) and the
    explode form (style_scores) are two expression trees for the SAME
    semantics — they must agree on every input, including the
    catalog-order tie-break."""
    from model_audit_spark.operators.detect import detect, style_scores

    docs = _docs(spark, texts)
    via_argmax = {
        r.doc_id: (r.predicted_model, r.confidence)
        for r in detect(docs, spark, "text", "doc_id").collect()
    }
    via_scores = {
        r.doc_id: (r.predicted_model, r.confidence)
        for r in style_scores(docs, spark, "text", "doc_id")
        .groupBy("doc_id")
        .agg(
            F.expr("max_by(family, struct(score, -family_rank))")
            .alias("predicted_model"),
            F.max("score").alias("confidence"),
        )
        .collect()
    }
    assert via_argmax == via_scores


@given(texts=st.lists(_TEXT, min_size=1, max_size=20))
@_SETTINGS
def test_style_scores_bounded(spark, texts):
    """score = lang(<=0.2) + markers(<=0.5) + structure([-0.08,0.2])
    + refusal(<=0.1), so every score sits in [-0.08, 1.0]."""
    from model_audit_spark.operators.detect import style_scores

    docs = _docs(spark, texts)
    row = (
        style_scores(docs, spark, "text", "doc_id")
        .agg(F.min("score").alias("lo"), F.max("score").alias("hi"),
             F.count("*").alias("n"))
        .first()
    )
    assert row.n == len(texts) * len(STYLE_SIGNATURES)
    assert -0.08 <= row.lo <= row.hi <= 1.0


@given(texts=st.lists(_TEXT, min_size=1, max_size=15))
@_SETTINGS
def test_duplicate_texts_collide_in_minhash_and_simhash(spark, texts):
    """Identical text => identical minhash signature and simhash — exact
    duplicates can never be missed by the approximate dedup paths."""
    from model_audit_spark.operators.dedup import (
        minhash_signatures, simhash,
    )

    # two copies of every text under different ids
    n = len(texts)
    docs = _docs(spark, texts + texts)
    sig_df = minhash_signatures(docs, "text", "doc_id")
    mh_cols = [c for c in sig_df.columns if c.startswith("mh_")]
    sigs = {r.doc_id: tuple(r[c] for c in mh_cols)
            for r in sig_df.collect()}
    for i in range(n):
        assert sigs[i] == sigs[i + n]
    sh = {r.doc_id: r.simhash for r in
          simhash(docs, "text", "doc_id").collect()}
    for i in range(n):
        assert sh[i] == sh[i + n]


@given(texts=st.lists(_TEXT, min_size=1, max_size=20))
@_SETTINGS
def test_doc_stats_quality_in_unit_interval(spark, texts):
    from model_audit_spark.operators.text_analysis import doc_stats

    docs = _docs(spark, texts)
    row = (
        doc_stats(docs, "text", "doc_id")
        .agg(F.min("quality_score").alias("lo"),
             F.max("quality_score").alias("hi"),
             F.min("n_tokens").alias("tmin"))
        .first()
    )
    assert 0.0 <= row.lo <= row.hi <= 1.0
    assert row.tmin >= 0


@given(texts=st.lists(_TEXT, min_size=2, max_size=20))
@_SETTINGS
def test_dedup_exact_partitions_the_corpus(spark, texts):
    """Winners + duplicates partition the input: every row appears exactly
    once, one winner per distinct text, winner id = min id of its group."""
    from model_audit_spark.operators.dedup import exact_dedup

    docs = _docs(spark, texts)
    flagged = exact_dedup(docs, "text", "doc_id")
    assert flagged.count() == len(texts)  # every row classified
    kept_ids = sorted(
        r.doc_id
        for r in flagged.filter("is_first").select("doc_id").collect()
    )
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    expect = sorted(min(ids) for ids in by_text.values())
    assert kept_ids == expect


@given(texts=st.lists(_TEXT, min_size=1, max_size=12))
@_SETTINGS
def test_chunking_reconstructs_every_text(spark, texts):
    """For ANY text: stripping the overlap from chunks 1+ and
    concatenating rebuilds the document exactly; chunk lengths never
    exceed the window."""
    from model_audit_spark.operators.text_analysis import chunk_text

    docs = _docs(spark, texts)
    rows = chunk_text(docs, chunk_chars=20, overlap=5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        cs = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        if t == "":
            assert cs == []
            continue
        rebuilt = (
            cs[0].chunk_text + "".join(c.chunk_text[5:] for c in cs[1:])
            if cs else ""
        )
        assert rebuilt == t
        assert all(c.chunk_len <= 20 for c in cs)


@given(texts=st.lists(_TEXT, min_size=2, max_size=12))
@_SETTINGS
def test_budget_select_cumsum_is_permutation_of_global_prefix(spark, texts):
    """cum_tokens must be the exact global running sum regardless of how
    the input is partitioned."""
    from model_audit_spark.operators.sampling import budget_select

    docs = _docs(spark, texts)
    out = budget_select(docs, budget_tokens=10).collect()
    total = sum(r.n_tokens for r in out)
    # exclusive-prefix shift identity (multiset form — robust to ties
    # from zero-token docs): {cum - n} ∪ {total} == {cum} ∪ {0}
    assert sorted([r.cum_tokens - r.n_tokens for r in out] + [total]) == (
        sorted([r.cum_tokens for r in out] + [0])
    )
    # repartitioned input -> identical output
    again = budget_select(docs.repartition(7), budget_tokens=10).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


@given(texts=st.lists(_TEXT, min_size=1, max_size=10))
@_SETTINGS
def test_lang_profile_total_function(spark, texts):
    """detect_lang_profile returns a known label for every input."""
    from model_audit_spark.functions.text import (
        LANG_PROFILES,
        detect_lang_profile,
    )

    docs = _docs(spark, texts)
    labels = {
        r.l
        for r in docs.select(
            detect_lang_profile("text").alias("l")
        ).collect()
    }
    assert labels <= set(LANG_PROFILES) | {"zh", "und"}


@given(texts=st.lists(_TEXT, min_size=2, max_size=16))
@_SETTINGS
def test_dsir_covers_every_doc_with_exact_nanonat_weights(spark, texts):
    from model_audit_spark.operators.dsir import dsir_weights

    docs = _docs(spark, texts).withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, "t").otherwise("r")
    )
    out = dsir_weights(docs, F.col("source") == "t").collect()
    assert len(out) == len(texts)  # left join keeps bigram-less docs
    for r in out:
        assert r.dsir_logweight == r.dsir_nanonats / 1e9
        if r.n_feats == 0:
            assert r.dsir_nanonats == 0


@given(texts=st.lists(_TEXT, min_size=2, max_size=12))
@_SETTINGS
def test_cluster_retention_exactly_one_keep_per_cluster(spark, texts):
    from model_audit_spark.operators.cluster import (
        cluster_retention_by_quality,
    )
    from model_audit_spark.operators.text_analysis import doc_stats

    docs = _docs(spark, texts)
    q = doc_stats(docs).select("doc_id", "quality_score")
    # chain pairs: (0,1), (1,2) — one big cluster plus singletons
    n = len(texts)
    pair_rows = [(i, i + 1) for i in range(min(2, n - 1))]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    out = cluster_retention_by_quality(q, pairs).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for rows in by_cluster.values():
        kept = [r for r in rows if r.keep]
        assert len(kept) == 1
        assert kept[0].quality == max(r.quality for r in rows)
        assert all(r.cluster_size == len(rows) for r in rows)


def test_null_and_empty_text_convention_across_per_doc_operators(spark):
    """Repo-wide convention: NULL text behaves as EMPTY text — per-doc
    operators must emit a row for every input doc (never crash, never
    silently drop) with zero-ish stats. The testdata has no NULL texts,
    so this pins the convention the oracle twins assume (bm25's avgdl
    divergence was exactly this hazard)."""
    from model_audit_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
        span_dedup_stats,
    )
    from model_audit_spark.operators.pii import pii_scan
    from model_audit_spark.operators.quality import repetition_stats
    from model_audit_spark.operators.text_analysis import doc_stats

    docs = spark.createDataFrame(
        [(1, "a real document with several words here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    for name, out in [
        ("doc_stats", doc_stats(docs)),
        ("exact_dedup", exact_dedup(docs)),
        ("span_dedup", span_dedup_stats(docs, span_tokens=3)),
        ("pii_scan", pii_scan(docs)),
        ("repetition_stats", repetition_stats(docs)),
    ]:
        rows = out.collect()
        assert len(rows) == 3, f"{name} dropped NULL/empty docs: {len(rows)}"
    sigs = minhash_signatures(docs, "text", "doc_id").collect()
    assert len(sigs) == 3  # sentinel signatures for shingle-less docs

    # search paths: NULL docs COUNT in the corpus stats (n_docs, avgdl)
    # but emit no hits/keywords, and phrase search simply never matches
    from model_audit_spark.operators.search import (
        bm25_search,
        phrase_search,
        tfidf_keywords,
    )

    hits = bm25_search(docs, "document words", k=10).collect()
    assert [r["doc_id"] for r in hits] == [1]
    # idf of "words": df=1 over n_docs=3 (NULL+empty counted):
    # ln((3-1+0.5)/(1+0.5)+1) — a NULL-dropping implementation would
    # compute n_docs=1 and score ln(1.333) instead
    import math

    expected_idf = round(math.log((3 - 1 + 0.5) / 1.5 + 1.0), 9)
    one_term = bm25_search(docs, "words", k=10).collect()[0]
    dl = 7  # tokens in doc 1
    contrib = round(
        expected_idf * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * dl / (dl / 3))),
        9,
    )
    assert abs(one_term["score"] - contrib) < 1e-8
    kw = tfidf_keywords(docs, k=3, min_df=1, max_df_frac=1.0).collect()
    assert {r["doc_id"] for r in kw} == {1}
    assert phrase_search(docs, "real document").count() == 1


@given(texts=st.lists(_TEXT, min_size=1, max_size=16))
@_SETTINGS
def test_tfidf_keywords_rank_and_band_invariants(spark, texts):
    """kw_rank ∈ [1, k] dense per doc; no term outside the
    [min_df, max_df_frac·N] band ever appears; scores positive."""
    from model_audit_spark.operators.search import tfidf_keywords

    docs = _docs(spark, texts)
    n = len(texts)
    rows = tfidf_keywords(docs, k=3, min_df=1, max_df_frac=1.0).collect()
    by_doc = {}
    for r in rows:
        assert 1 <= r.kw_rank <= 3 and float(r.score) > 0
        by_doc.setdefault(r.doc_id, []).append(r.kw_rank)
    for ranks in by_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


@given(texts=st.lists(_TEXT, min_size=1, max_size=12))
@_SETTINGS
def test_phrase_search_occurrences_bounded_by_tokens(spark, texts):
    """phrase_search (n-gram array equality) must agree with an
    INDEPENDENT positional formulation: posexplode the same tokens and
    equi-join position p of the first term to p+1 of the second."""
    from model_audit_spark.functions.text import word_tokens
    from model_audit_spark.operators.search import phrase_search

    docs = _docs(spark, texts)
    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_search(docs, "以下 是").collect()
    }
    t = docs.select(
        "doc_id",
        F.posexplode(
            word_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("p", "w"),
    )
    first = t.filter(F.col("w") == "以下").select("doc_id", "p")
    second = t.filter(F.col("w") == "是").select(
        "doc_id", (F.col("p") - 1).alias("p")
    )
    want = {
        r.doc_id: r.n
        for r in first.join(second, ["doc_id", "p"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=200),
    fracs=st.lists(
        st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
        min_size=1, max_size=4,
    ),
)
@_SETTINGS
def test_assign_splits_total_and_deterministic(spark, n, fracs):
    """Every row gets exactly one split from the declared names, and the
    assignment is a pure function of (key, salt) — stable under
    re-evaluation and corpus growth."""
    from model_audit_spark.operators.sampling import assign_splits

    total = sum(fracs)
    named = {f"s{i}": f / total for i, f in enumerate(fracs)}
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = assign_splits(df, named).collect()
    assert len(out) == n
    assert {r["split"] for r in out} <= set(named)
    # growth stability: the first n rows of a larger corpus keep splits
    bigger = assign_splits(
        spark.range(n * 2).withColumnRenamed("id", "doc_id"), named
    )
    sub = {r["doc_id"]: r["split"]
           for r in bigger.filter(F.col("doc_id") < n).collect()}
    assert sub == {r["doc_id"]: r["split"] for r in out}


@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=10_000),
        min_size=1, max_size=6,
    ),
    alpha=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@_SETTINGS
def test_temperature_weights_sum_to_one_and_flatten(spark, sizes, alpha):
    """Weights are a distribution, and temperature alpha<1 never makes
    the largest stratum MORE dominant than its natural share."""
    from model_audit_spark.operators.sampling import (
        temperature_mix_weights,
    )

    rows = [(f"s{i}", sz) for i, sz in enumerate(sizes)]
    df = spark.createDataFrame(rows, "source STRING, n_chars LONG")
    out = temperature_mix_weights(df, size_col="n_chars", alpha=alpha)
    got = {r["stratum"]: r for r in out.collect()}
    tot = sum(r["weight"] for r in got.values())
    assert abs(tot - 1.0) < 1e-4
    top = max(got.values(), key=lambda r: r["size"])
    assert top["weight"] <= top["share"] + 1e-6


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=0, max_size=12,
    ),
    cut=st.integers(min_value=0, max_value=15),
)
@_SETTINGS
def test_incremental_components_equal_full_for_any_graph(spark, edges, cut):
    """For ANY pair graph and ANY old/new partition of its edges, the
    star-collapsed incremental path equals the full recompute."""
    from pyspark.sql import Row
    from model_audit_spark.operators.cluster import (
        cluster_documents,
        incremental_cluster_documents,
    )

    pairs = [(a, b) for a, b in edges if a != b]
    nodes = sorted({n for e in pairs for n in e} | {0, 1})
    docs = spark.createDataFrame([Row(doc_id=n) for n in nodes])
    old = [e for e in pairs if max(e) <= cut]
    new = [e for e in pairs if max(e) > cut]
    schema = "id_a LONG, id_b LONG"
    old_df = spark.createDataFrame(old or [], schema)
    new_df = spark.createDataFrame(new or [], schema)
    old_nodes = sorted({n for e in old for n in e} | {0})
    assignment = cluster_documents(
        spark.createDataFrame([Row(doc_id=n) for n in old_nodes]), old_df
    ).select("doc_id", "cluster_id")
    inc = {r["doc_id"]: r["cluster_id"]
           for r in incremental_cluster_documents(
               docs, assignment, new_df).collect()}
    full = {r["doc_id"]: r["cluster_id"]
            for r in cluster_documents(
                docs, old_df.unionByName(new_df)).collect()}
    assert inc == full


@given(
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="ab c\nd\xa0\u3000", max_size=260),
            st.text(alphabet="ab c\nd\xa0\u3000", max_size=260),
        ),
        min_size=1, max_size=6,
    )
)
@_SETTINGS
def test_seqmatch_sql_twin_equals_difflib(pairs):
    """The recursive-CTE difflib twin (oracle.seqmatch_scores_sql) is
    bit-identical to SequenceMatcher for ANY strings — including the
    autojunk regime (len >= 200, popular chars leave the DP but stay
    extendable), UNICODE whitespace trims (NBSP / ideographic space —
    Python str.strip() semantics, round-4 review finding), and the
    empty/corner-fallback edges."""
    from difflib import SequenceMatcher

    import duckdb

    from model_audit_spark.oracle import seqmatch_scores_sql

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE _pairs (pair_id BIGINT, suffix VARCHAR, "
        "completion VARCHAR)"
    )
    con.executemany(
        "INSERT INTO _pairs VALUES (?, ?, ?)",
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
    )
    sql = seqmatch_scores_sql(
        "memo_split AS (SELECT pair_id, suffix, completion FROM _pairs)"
    )
    got = {r[0]: r[1:] for r in con.sql(sql).fetchall()}
    for i, (a, b) in enumerate(pairs):
        sa, sb = a.strip(), b.strip()
        m = sum(
            bl.size
            for bl in SequenceMatcher(None, sa, sb).get_matching_blocks()
        )
        t = len(sa) + len(sb)
        score = ((40000 * m + t) // (2 * t)) / 10000.0 if t else 1.0
        assert got[i] == (m, t, score), (i, a, b, got[i], (m, t, score))


@given(texts=st.lists(_TEXT, min_size=2, max_size=12))
@_SETTINGS
def test_containment_prefix_pairs_lossless_for_any_corpus(spark, texts):
    """The one-sided prefix filter NEVER loses a qualifying containment
    pair — brute-force over the same distinct shingle sets for ANY
    corpus (unicode, markers, empty/whitespace)."""
    from itertools import combinations

    from model_audit_spark.operators.dedup import (
        containment_prefix_pairs,
        shingles_df,
    )

    docs = _docs(spark, texts)
    t = 0.7
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_prefix_pairs(
            docs, min_containment=t
        ).collect()
    }
    sets = {r["doc_id"]: set(r["sh"]) for r in shingles_df(docs).collect()}
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        c = round(inter / max(min(len(sets[a]), len(sets[b])), 1), 6)
        if c >= t:
            expect[(a, b)] = c
    assert got == expect


@given(
    st.lists(
        st.floats(
            min_value=1e-9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=5,
        max_size=40,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_weighted_sample_es_long_mantissa_weights(spark, weights):
    """ES-key portability pin (sampling.py invariant comment): for
    arbitrary full-mantissa double weights, the emitted es_key must be
    BIT-identical to the pure-Python reimplementation (exact integer
    nanonats / stored double — correctly-rounded IEEE division on every
    engine), and the selection must be independent of the input's
    partitioning (1 vs 8 partitions — the local stand-in for --cpus=7
    vs 32)."""
    import hashlib
    import math

    from model_audit_spark.operators.sampling import weighted_sample_es

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    k = max(1, len(rows) // 2)

    def py_key(i, w):
        h = int(
            hashlib.md5(f"|{i}".encode()).hexdigest()[:8], 16
        )
        lnq = round(math.log((2.0 ** 32) / (h + 1)) * 1e9)
        return lnq / w

    expect = sorted(
        ((py_key(i, w), i) for i, w in rows if w > 0)
    )[:k]

    for parts in (1, 8):
        got = [
            (r["es_key"], r["doc_id"])
            for r in weighted_sample_es(
                df.repartition(parts), "weight", k
            ).collect()
        ]
        assert got == expect, (parts, got[:3], expect[:3])


# ---------------------------------------------------------------------------
# r7 (verdict task 6): property suites for the analytical core —
# JS divergence, cosine top-k, winnowing, exact histogram quantiles.
# Same discipline as above: one Spark job per example, few examples,
# adversarial inputs over statistical volume.

_WEIGHT = st.floats(min_value=0.0, max_value=10.0, allow_nan=False)
_DIST_PAIR = st.dictionaries(
    st.sampled_from(list("abcdefgh")),
    st.tuples(_WEIGHT, _WEIGHT),
    min_size=1,
    max_size=8,
)


def _js_reference(wa: dict[str, float], wb: dict[str, float]) -> float:
    """Pure-python mirror of js_divergence_pairs' semantics: normalize
    each side by max(sum, 1e-300) over the UNION of keys, then
    JS = (KL(p||m) + KL(q||m)) / 2 with zero-mass terms dropped."""
    import math

    keys = set(wa) | set(wb)
    sa = max(sum(wa.values()), 1e-300)
    sb = max(sum(wb.values()), 1e-300)
    js = 0.0
    for k in keys:
        p = wa.get(k, 0.0) / sa
        q = wb.get(k, 0.0) / sb
        m = (p + q) / 2
        if p > 0 and m > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0 and m > 0:
            js += 0.5 * q * math.log(q / m)
    return js


def _js_run(spark, rows_a, rows_b):
    from model_audit_spark.operators.dli import js_divergence_pairs

    rows = [("a", k, w) for k, w in rows_a] + [("b", k, w) for k, w in rows_b]
    dist = spark.createDataFrame(
        rows, "model_id STRING, ngram STRING, weight DOUBLE"
    )
    out = js_divergence_pairs(dist).collect()
    assert len(out) == 1
    return out[0]["js_divergence"]


@given(d=_DIST_PAIR)
@_SETTINGS
def test_js_divergence_matches_reference_bounded_and_symmetric(spark, d):
    """js_divergence_pairs equals the pure-python JS for ANY pair of
    weight maps (shared and disjoint keys), sits in [0, ln 2], and is
    symmetric under swapping the two distributions."""
    import math

    from hypothesis import assume

    rows_a = [(k, wa) for k, (wa, _) in d.items() if wa > 0]
    rows_b = [(k, wb) for k, (_, wb) in d.items() if wb > 0]
    # a side with no positive mass has no distribution row at all and
    # therefore no pair — that vacuous case is not what this pins
    assume(rows_a and rows_b)
    got = _js_run(spark, rows_a, rows_b)
    want = _js_reference(dict(rows_a), dict(rows_b))
    assert abs(got - want) < 1e-9
    assert -1e-12 <= got <= math.log(2.0) + 1e-9
    # symmetry: swap which model carries which weights
    assert abs(_js_run(spark, rows_b, rows_a) - got) < 1e-9


@given(
    d=_DIST_PAIR,
    scale=st.floats(min_value=1e-3, max_value=1e3, allow_nan=False),
)
@_SETTINGS
def test_js_divergence_zero_on_identical_up_to_scale(spark, d, scale):
    """JS(P, cP) = 0 for any positive c: the operator normalizes each
    side, so total-mass differences between corpora never register as
    behavioral divergence."""
    from hypothesis import assume

    rows_a = [(k, wa) for k, (wa, _) in d.items() if wa > 0]
    assume(rows_a)
    # Scale-invariance holds only above the operator's normalization
    # floor max(sum, 1e-300): below it the division is by the FLOOR, the
    # sides stay un-normalized, and JS(P, cP) is legitimately non-zero
    # (hypothesis found mass 2.2e-309, scale 4 → JS ≈ 1.07e-9). Subnormal
    # corpus mass is out of the operator's contract; require both sides'
    # masses comfortably above the floor.
    assume(sum(w for _, w in rows_a) > 1e-250)
    rows_b = [(k, w * scale) for k, w in rows_a]
    assert abs(_js_run(spark, rows_a, rows_b)) < 1e-9


_VEC = st.lists(
    st.floats(min_value=-8.0, max_value=8.0, allow_nan=False),
    min_size=4,
    max_size=4,
)


@given(
    vecs=st.lists(_VEC, min_size=2, max_size=10),
    k=st.integers(min_value=1, max_value=10),
    scale=st.floats(min_value=1e-2, max_value=1e2, allow_nan=False),
)
@_SETTINGS
def test_cosine_topk_matches_reference_and_is_scale_invariant(
    spark, vecs, k, scale
):
    """cosine_topk equals the pure-python ranking (round-6dp sim DESC,
    id ASC) for ANY corpus; every similarity sits in [-1, 1]; the query
    ranks itself at 1.0; and scaling every vector by a positive
    constant changes nothing (cosine is scale-free)."""
    import math

    from hypothesis import assume

    from model_audit_spark.operators.similarity import cosine_topk

    # zero-norm vectors make cosine undefined (NaN) — excluded here;
    # the engine's NaN convention is pinned by the oracle twins
    assume(all(math.sqrt(sum(x * x for x in v)) > 1e-6 for v in vecs))
    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = [
        (r["vec_id"], r["cosine_sim"])
        for r in cosine_topk(emb, 0, k=k).collect()
    ]

    q = vecs[0]
    qn = math.sqrt(sum(x * x for x in q))

    def cos(v):
        n = math.sqrt(sum(x * x for x in v))
        return round(sum(a * b for a, b in zip(v, q)) / (n * qn), 6)

    want = sorted(
        ((i, cos(v)) for i, v in rows), key=lambda t: (-t[1], t[0])
    )[:k]
    assert got == want
    assert all(-1.0 <= s <= 1.0 for _, s in got)
    assert got[0] == (0, 1.0)  # self-similarity heads the ranking

    scaled = spark.createDataFrame(
        [(i, [x * scale for x in v]) for i, v in rows],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got_scaled = [
        (r["vec_id"], r["cosine_sim"])
        for r in cosine_topk(scaled, 0, k=k).collect()
    ]
    # identical up to 6dp rounding jitter at the last digit
    assert [i for i, _ in got_scaled] == [i for i, _ in got]
    for (_, a), (_, b) in zip(got_scaled, got):
        assert abs(a - b) <= 2e-6


@given(texts=st.lists(_TEXT, min_size=1, max_size=8))
@_SETTINGS
def test_winnow_selected_equals_reference_and_covers_every_window(
    spark, texts
):
    """winnow_selected (the zero-shuffle array form) equals the classic
    per-window reference — min hash per window, RIGHTMOST position on
    ties, distinct — for ANY corpus, and therefore inherits winnowing's
    guarantee: every full window of `w` consecutive grams contains at
    least one selected fingerprint."""
    import pyspark.sql.functions as SF

    from model_audit_spark.functions.text import ngrams, word_tokens
    from model_audit_spark.operators.text_analysis import winnow_selected

    K, W = 3, 4
    docs = _docs(spark, texts)
    # the same gram-hash sequence the operator sees, via the same
    # engine primitives (tokenizer + ngram + md5)
    hashes = {
        r["doc_id"]: list(r["h"])
        for r in docs.select(
            "doc_id",
            SF.transform(
                ngrams(word_tokens("text"), K), SF.md5
            ).alias("h"),
        ).collect()
    }

    def ref(hs: list[str]) -> set[tuple[int, str]]:
        n = len(hs)
        out: set[tuple[int, str]] = set()
        for s in range(n - W + 1):
            best = min(range(s, s + W), key=lambda i: (hs[i], -i))
            out.add((best + 1, hs[best]))  # positions are 1-based
        return out

    got: dict[int, set] = {}
    for r in winnow_selected(docs, gram_k=K, window=W).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))
    for doc_id, hs in hashes.items():
        expect = ref(hs)
        assert got.get(doc_id, set()) == expect, doc_id
        # coverage guarantee on the operator's own output
        sel_pos = sorted(p for p, _ in got.get(doc_id, set()))
        for s in range(1, len(hs) - W + 2):
            assert any(s <= p <= s + W - 1 for p in sel_pos), (doc_id, s)


@given(
    groups=st.lists(
        st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=3,
    )
)
@_SETTINGS
def test_histogram_quantiles_match_sorted_list_reference(spark, groups):
    """histogram_quantiles computes EXACT type-1 (lower) quantiles:
    q_p = sorted(non-null values)[ceil(p/1000 * n)] (1-indexed), per
    group, for ANY value multiset including NULLs; groups with only
    NULLs vanish (no histogram rows); n_rows counts non-NULL only."""
    from model_audit_spark.operators.stats import histogram_quantiles

    permilles = (100, 250, 500, 750, 900)
    rows = [
        (f"g{gi}", v) for gi, vals in enumerate(groups) for v in vals
    ]
    if not rows:
        rows = [("g0", None)]
    df = spark.createDataFrame(rows, "grp STRING, val INT")
    got = {
        r["grp"]: r
        for r in histogram_quantiles(
            df, "val", by="grp", permilles=permilles
        ).collect()
    }
    for gi, vals in enumerate(groups):
        name = f"g{gi}"
        clean = sorted(v for v in vals if v is not None)
        if not clean:
            assert name not in got
            continue
        r = got[name]
        n = len(clean)
        assert r["n_rows"] == n
        for p in permilles:
            rank = (p * n + 999) // 1000  # ceil(p*n/1000), 1-indexed
            assert r[f"q_p{p}"] == clean[rank - 1], (name, p)


@given(texts=st.lists(_TEXT, min_size=1, max_size=6))
@_SETTINGS
def test_mixing_plan_tokenizer_matches_python_split(spark, texts):
    """mixing_plan's token mass is EXACTLY the engine tokenizer
    contract: ASCII-whitespace split (functions.text.words — r6
    ADVICE pinned it against the \\w+ DLI tokenizer, which differs on
    any punctuated text; hypothesis then found the second edge, NBSP:
    Python str.split() treats Unicode whitespace as separators but
    both gate engines' \\s is ASCII-only, so the documented contract
    is the ASCII class). Zero-token strata emit NULL
    weight/planned/epochs; nonzero weights sum to 1."""
    import re

    from model_audit_spark.operators.sampling import mixing_plan

    def ascii_split(t: str) -> list[str]:
        return [w for w in re.split("[ \t\n\x0b\f\r]+", t) if w]

    rows = [(i, t, f"s{i % 3}") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.stratum: r for r in mixing_plan(df, budget_tokens=1000).collect()}
    expect: dict[str, int] = {}
    for i, t in enumerate(texts):
        expect[f"s{i % 3}"] = expect.get(f"s{i % 3}", 0) + len(ascii_split(t))
    assert {k: r.n_tokens for k, r in got.items()} == expect
    nonzero = [r for r in got.values() if r.n_tokens > 0]
    for r in got.values():
        if r.n_tokens == 0:
            assert (
                r.weight is None
                and r.planned_tokens is None
                and r.epochs is None
            )
    if nonzero:
        assert abs(sum(r.weight for r in nonzero) - 1.0) < 1e-4


# ---------------------------------------------------------------------------
# r7 (beyond task 6): the graph / representation kernels.

_EDGES = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0, max_size=14,
)


@given(edges=_EDGES)
@_SETTINGS
def test_pagerank_mass_nonneg_and_partition_invariant(spark, edges):
    """Integer pico-mass PageRank: every pr >= 0, total mass stays
    within floor-division leakage of PAGERANK_SCALE, and the result is
    BIT-identical under repartitioning (the portability claim the
    integer arithmetic exists for)."""
    from pyspark.sql import Row

    from model_audit_spark.operators.cluster import (
        PAGERANK_SCALE,
        pagerank,
    )

    nodes = spark.createDataFrame([Row(node=i) for i in range(10)])
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [], "src LONG, dst LONG"
    )
    pr = {r["node"]: r["pr"]
          for r in pagerank(nodes, e, iterations=2).collect()}
    assert set(pr) == set(range(10))
    assert all(v >= 0 for v in pr.values())
    total = sum(pr.values())
    assert total <= PAGERANK_SCALE
    assert total >= PAGERANK_SCALE * 0.99
    again = {
        r["node"]: r["pr"]
        for r in pagerank(
            nodes.repartition(7), e.repartition(5), iterations=2
        ).collect()
    }
    assert again == pr


@given(
    edges=_EDGES,
    labels=st.lists(st.integers(0, 3), min_size=10, max_size=10),
)
@_SETTINGS
def test_modularity_matches_reference(spark, edges, labels):
    """community_modularity equals the textbook Newman Q computed in
    pure python over the same distinct undirected edge set, and sits in
    [-0.5, 1]."""
    from pyspark.sql import Row

    from model_audit_spark.operators.cluster import community_modularity

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    lab_df = spark.createDataFrame(
        [Row(doc_id=i, community=labels[i]) for i in range(10)]
    )
    e_df = spark.createDataFrame(
        list(und) or [], "src LONG, dst LONG"
    )
    row = community_modularity(lab_df, e_df).first()
    m = len(und)
    if m == 0:
        # empty graph: no per-community rows -> degenerate NULL report
        assert row["n_communities"] == 0
        assert row["m_edges"] is None and row["modularity"] is None
        return
    assert row["m_edges"] == m
    e_c: dict[int, int] = {}
    d_c: dict[int, int] = {}
    for a, b in und:
        ca, cb = labels[a], labels[b]
        d_c[ca] = d_c.get(ca, 0) + 1
        d_c[cb] = d_c.get(cb, 0) + 1
        if ca == cb:
            e_c[ca] = e_c.get(ca, 0) + 1
    q = sum(
        e_c.get(c, 0) / m - (d / (2 * m)) ** 2 for c, d in d_c.items()
    )
    # tolerance carries one extra ulp-class term: the operator emits
    # round(q, 6) computed from engine-side doubles, so when q sits at
    # an exact .5e-6 rounding boundary the two roundings can land one
    # full 1e-6 step apart (hypothesis found 1.0000000000288e-06 in
    # r11) — a bound of exactly 1e-6 flakes on that boundary
    assert abs(row["modularity"] - round(q, 6)) <= 1e-6 + 1e-9
    assert -0.5 - 1e-9 <= row["modularity"] <= 1.0 + 1e-9


@given(
    labels=st.lists(st.integers(0, 3), min_size=4, max_size=16),
)
@_SETTINGS
def test_nmi_bounds_alignment_and_rename_invariance(spark, labels):
    """partition_label_nmi: [0,1] within nanonat quantization; exactly
    aligned partitions score ~1; renaming labels changes nothing (MI is
    a function of the contingency table, not the names)."""
    from pyspark.sql import Row

    from model_audit_spark.operators.cluster import partition_label_nmi

    n = len(labels)
    lab_df = spark.createDataFrame(
        [Row(doc_id=i, community=labels[i]) for i in range(n)]
    )
    cat_df = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{labels[i]}") for i in range(n)]
    )
    row = partition_label_nmi(lab_df, cat_df).first()
    if len(set(labels)) == 1:
        assert row["nmi"] is None  # degenerate: 1 label AND 1 category
    else:
        assert abs(row["nmi"] - 1.0) <= 1e-6  # perfect alignment
    # rename invariance against an independent random-ish category
    cat2 = spark.createDataFrame(
        [Row(doc_id=i, source=f"t{(i * 7 + 3) % 3}") for i in range(n)]
    )
    base = partition_label_nmi(lab_df, cat2).first()["nmi"]
    renamed = spark.createDataFrame(
        [Row(doc_id=i, community=9 - labels[i]) for i in range(n)]
    )
    same = partition_label_nmi(renamed, cat2).first()["nmi"]
    assert same == base
    if base is not None:
        assert -1e-9 <= base <= 1.0 + 1e-6


_MAT = st.lists(
    st.lists(
        st.floats(min_value=-4.0, max_value=4.0, allow_nan=False),
        min_size=2, max_size=2,
    ),
    min_size=3, max_size=6,
)


@given(xm=_MAT, ym=_MAT, c=st.floats(min_value=0.5, max_value=2.0))
@_SETTINGS
def test_cka_long_equals_numpy_and_is_scale_invariant(spark, xm, ym, c):
    """The DataFrame-only CKA (join + aggregate Gram entries — the
    100 TB path) equals the numpy reference on ANY pair of small
    matrices, and linear CKA's isotropic-scaling invariance holds:
    cka(cX, Y) = cka(X, Y)."""
    from hypothesis import assume

    from model_audit_spark.operators.reef import cka_long, cka_numpy

    n = min(len(xm), len(ym))
    xm, ym = xm[:n], ym[:n]

    def long_df(mat, scale=1.0):
        rows = [
            (s, d, float(v) * scale)
            for s, row in enumerate(mat)
            for d, v in enumerate(row)
        ]
        return spark.createDataFrame(rows, "sample INT, dim INT, v DOUBLE")

    want = cka_numpy(xm, ym)
    got = cka_long(long_df(xm), long_df(ym)).first()["cka"]
    assert abs(got - want) <= 1e-9
    assert -1e-9 <= got <= 1.0 + 1e-9
    # scale invariance — skip the degenerate zero-variance regime where
    # the 1e-10 denominator guard flips under scaling
    import numpy as np

    X = np.asarray(xm) - np.asarray(xm).mean(0)
    Y = np.asarray(ym) - np.asarray(ym).mean(0)
    hxx = float(np.linalg.norm(X.T @ X, "fro") ** 2)
    hyy = float(np.linalg.norm(Y.T @ Y, "fro") ** 2)
    assume(hxx * hyy > 1e-12)
    scaled = cka_long(long_df(xm, scale=c), long_df(ym)).first()["cka"]
    assert abs(scaled - got) <= 1e-6


@given(
    texts=st.lists(_TEXT, min_size=2, max_size=14),
    quota=st.integers(min_value=0, max_value=6),
)
@_SETTINGS
def test_quota_sample_exact_counts_and_determinism(spark, texts, quota):
    """Stratum k keeps EXACTLY min(quota, |stratum k|) rows; smp_rank
    is dense 1..n within each stratum; the selection is a pure function
    of (id, salt) — identical across re-evaluation and repartitioning."""
    from model_audit_spark.operators.sampling import quota_sample

    rows = [(i, t, f"s{i % 3}") for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    sizes = {}
    for i, _ in enumerate(texts):
        sizes[f"s{i % 3}"] = sizes.get(f"s{i % 3}", 0) + 1
    quotas = {s: quota for s in sizes}
    out = quota_sample(df, quotas).collect()
    by_stratum: dict[str, list] = {}
    for r in out:
        by_stratum.setdefault(r["source"], []).append(r)
    for s, n in sizes.items():
        got = by_stratum.get(s, [])
        assert len(got) == min(quota, n), s
        assert sorted(r["smp_rank"] for r in got) == list(
            range(1, len(got) + 1)
        )
    again = quota_sample(df.repartition(5), quotas).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


@given(n=st.integers(min_value=1, max_value=40))
@_SETTINGS
def test_epoch_shuffle_is_a_permutation_per_epoch(spark, n):
    """Every epoch contains every doc exactly once; positions within
    each (epoch, shard) are dense from 1; the draw is deterministic
    (repartitioned input -> identical rows); epochs differ (for n > 2
    the probability all epochs sort identically is ~0 and the seeded
    hash makes it fixed — regression-pinned, not flaky)."""
    from model_audit_spark.operators.sampling import epoch_shuffle

    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = epoch_shuffle(df, n_epochs=2, n_shards=4).collect()
    by_epoch: dict[int, list] = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    for rows in by_epoch.values():
        assert sorted(r["doc_id"] for r in rows) == list(range(n))
        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["position"])
        for pos in by_shard.values():
            assert sorted(pos) == list(range(1, len(pos) + 1))
    again = epoch_shuffle(
        df.repartition(6), n_epochs=2, n_shards=4
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


@given(
    port=st.integers(min_value=1024, max_value=65535),
    status=st.sampled_from([500, 502, 503, 408]),
)
@settings(max_examples=200, deadline=None)
def test_retry_classifier_never_fail_fasts_on_url_digits(port, status):
    """Status-code classification is token-exact: a retryable server
    error whose URL contains ANY ephemeral port (including ports with
    401/403 as a substring — the measured full-suite flake on port
    40351) must exhaust retries as a RuntimeError, never fail fast as
    an auth ValueError; and a real 401/403 status token always fail-
    fasts regardless of the port."""
    import pytest as _pytest

    from model_audit_spark.probing import _retry_call

    def server_error():
        raise RuntimeError(
            f"HTTP {status} for http://127.0.0.1:{port}/v1/chat"
        )

    with _pytest.raises(RuntimeError, match="after 3 retries"):
        _retry_call(server_error, sleep=lambda s: None)

    def auth_error():
        raise RuntimeError(
            f"HTTP 401 for http://127.0.0.1:{port}/v1/chat"
        )

    with _pytest.raises(ValueError, match="auth"):
        _retry_call(auth_error, sleep=lambda s: None)


# Pair graphs for the driver-vs-loop equivalence: random edges over a
# small id space (duplicates and self-loops arise naturally), a chain of
# up to 8 edges, and optionally reversed and repeated copies of edges.
_PAIR_GRAPH = st.tuples(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=10
    ),
    st.integers(0, 8),
    st.booleans(),
).map(
    lambda g: (lambda e: e + ([(b, a) for a, b in e[::2]] + e[1::3]
                              if g[2] else []))(
        g[0] + [(20 + i, 21 + i) for i in range(g[1])]
    )
)


def _components_both_ways(build):
    """(schema, row multiset) of build() on the driver path and with the
    cluster gate at 0, which forces the distributed loop (and
    dedup_decisions' window chain)."""
    from collections import Counter

    from model_audit_spark.operators import cluster

    def run():
        df = build()
        return df.schema, Counter(map(tuple, df.collect()))

    collected = run()
    gate = cluster._COLLECT_MAX_PAIRS
    cluster._COLLECT_MAX_PAIRS = 0
    try:
        return collected, run()
    finally:
        cluster._COLLECT_MAX_PAIRS = gate


@given(edges=_PAIR_GRAPH)
@_SETTINGS
def test_collected_components_equal_the_loop(spark, edges):
    from model_audit_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    collected, loop = _components_both_ways(
        lambda: connected_components(pairs)
    )
    assert collected == loop


@given(
    edges=_PAIR_GRAPH,
    qualities=st.lists(
        st.sampled_from([None, 0.25, 0.5, 0.5, 0.75, "absent"]),
        min_size=30, max_size=30,
    ),
)
@_SETTINGS
def test_collected_decisions_equal_the_window_chain(spark, edges, qualities):
    """Row for row, including tied and NULL qualities, pair nodes with
    no docs_quality row, and one output row per matching orientation
    of a repeated or reversed pair."""
    from model_audit_spark.operators.cluster import dedup_decisions

    docs = spark.createDataFrame(
        [(n, q) for n, q in enumerate(qualities) if q != "absent"],
        "doc_id LONG, quality_score DOUBLE",
    )
    pairs = spark.createDataFrame(
        [(a, b, 0.5 + (3 * a + b) % 5 / 10) for a, b in edges],
        "id_a LONG, id_b LONG, jaccard DOUBLE",
    )
    collected, loop = _components_both_ways(
        lambda: dedup_decisions(docs, pairs)
    )
    assert collected == loop
