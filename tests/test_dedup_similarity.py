"""Dedup + similarity operator tests (SURVEY.md §7.2 M7 scale extensions).

Literal-input tests in the style of the reference's pure-function tests
(tests/test_dli.py:15-112): known duplicates must pair, disjoint texts must
not, and signatures must be deterministic across runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from model_audit_spark.functions.text import ngrams
from model_audit_spark.operators.dedup import (
    MINHASH_PRIME,
    exact_dedup,
    jaccard_verify,
    minhash_band_pairs,
    minhash_coeffs,
    minhash_signatures,
    shingles_df,
    simhash,
)
from model_audit_spark.operators.similarity import cosine_topk

LONG_A = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the distant purple mountains of the old west"
)
# near-duplicate of LONG_A: one word changed
LONG_A2 = (
    "the quick brown fox jumps over the lazy cat while the sun sets "
    "slowly behind the distant purple mountains of the old west"
)
LONG_B = (
    "completely different content about database engines and columnar "
    "storage formats with vectorized execution and late materialization"
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, LONG_A),
            (2, LONG_A2),
            (3, LONG_B),
            (4, LONG_A),  # exact dup of 1
            (5, ""),  # empty
        ],
        ["doc_id", "text"],
    )


def test_ngrams_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("x y",), ("solo",), ("",)], ["text"]
    )
    from model_audit_spark.functions.text import word_tokens

    out = df.select(
        ngrams(word_tokens("text"), 2).alias("bg"),
        ngrams(word_tokens("text"), 3).alias("tg"),
    ).collect()
    assert out[0].bg == ["a b", "b c", "c d"]
    assert out[0].tg == ["a b c", "b c d"]
    assert out[1].bg == ["x y"] and out[1].tg == []
    assert out[2].bg == [] and out[3].bg == []


def test_exact_dedup_groups(spark, docs):
    rows = {r.doc_id: r for r in exact_dedup(docs).collect()}
    assert rows[1].text_hash == rows[4].text_hash
    assert rows[1].dup_group_size == 2 and rows[4].dup_group_size == 2
    assert rows[1].is_first and not rows[4].is_first
    assert rows[3].dup_group_size == 1 and rows[3].is_first


def test_minhash_coeffs_bounds():
    for a, b in minhash_coeffs(64):
        assert 0 < a < (1 << 30) and a % 2 == 1
        assert 0 <= b < MINHASH_PRIME


@pytest.mark.parametrize(
    "num_hashes,bands", [(16, 32), (16, 0), (16, 3), (0, 1), (-4, 2)]
)
def test_lsh_parameters_rejected_at_entry(
    spark, docs, tmp_path, num_hashes, bands
):
    """bands must split num_hashes evenly into rows_per_band >= 1: more
    bands than hashes made every doc's band hash md5(''), bands=0 raised
    a bare ZeroDivisionError, and an uneven split dropped hashes. Every
    signing/banding entry point refuses such values up front."""
    from model_audit_spark.operators.dedup import (
        incremental_dedup_pairs,
        lsh_band_rows,
        minhash_index_append,
        minhash_index_write,
    )

    sigs = minhash_signatures(docs)
    bands_df = lsh_band_rows(sigs)
    idx = str(tmp_path / "idx")
    kw = {"num_hashes": num_hashes, "bands": bands}
    entries = [
        lambda: lsh_band_rows(sigs, **kw),
        lambda: minhash_band_pairs(sigs, **kw),
        lambda: minhash_index_write(docs, idx, **kw),
        lambda: minhash_index_append(docs, idx, **kw),
        lambda: incremental_dedup_pairs(docs, bands_df, docs, **kw),
    ]
    if num_hashes < 1:
        entries.append(lambda: minhash_signatures(docs, num_hashes=num_hashes))
    for entry in entries:
        with pytest.raises(ValueError, match="num_hashes|bands"):
            entry()


@pytest.mark.parametrize("num_hashes,bands", [(16, 1), (16, 4), (16, 16), (1, 1)])
def test_lsh_parameters_accepted(num_hashes, bands):
    from model_audit_spark.operators.dedup import check_lsh_params

    check_lsh_params(num_hashes, bands)


def test_minhash_signature_deterministic_and_sentinel(spark, docs):
    s1 = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(docs).collect()}
    s2 = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(docs).collect()}
    assert s1 == s2
    # exact dups share all minima; empty doc gets the sentinel everywhere
    assert s1[1] == s1[4]
    assert s1[5] == tuple([MINHASH_PRIME] * 16)
    assert all(0 <= v <= MINHASH_PRIME for sig in s1.values() for v in sig)


def test_minhash_pairs_find_near_dups(spark, docs):
    sigs = minhash_signatures(docs)
    pairs = minhash_band_pairs(sigs)
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(docs, pairs, min_jaccard=0.5).collect()
    }
    assert verified[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in verified and verified[(1, 2)] > 0.5  # near dup
    assert not any(3 in p for p in verified)  # disjoint never pairs
    assert all(a < b for a, b in verified)


def test_ngram_jaccard_pairs_exact_and_contains_minhash(spark, docs):
    from model_audit_spark.operators.dedup import ngram_jaccard_pairs

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    }
    assert exact[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in exact and exact[(1, 2)] > 0.5  # near dup
    assert not any(3 in p for p in exact)  # disjoint never pairs
    # LSH-candidate pairs at the same threshold are a subset of exact pairs
    # with identical jaccard values
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(
            docs, minhash_band_pairs(minhash_signatures(docs)), min_jaccard=0.5
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[p] == j for p, j in lsh.items())


def test_ngram_jaccard_max_df_drops_boilerplate(spark):
    from model_audit_spark.operators.dedup import ngram_jaccard_pairs

    # two docs sharing ONLY a boilerplate shingle that appears in all docs
    boiler = "copyright two thousand all rights reserved worldwide"
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, boiler + " unrelated words entirely different content here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with_boiler = ngram_jaccard_pairs(df, min_jaccard=0.1).collect()
    assert len(with_boiler) == 3  # every pair shares the boilerplate prefix
    capped = ngram_jaccard_pairs(df, min_jaccard=0.1, max_df=2).collect()
    assert capped == []  # shingles in all 3 docs removed -> no candidates
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(df, min_jaccard=0.0)


def test_shingles_df_distinct(spark):
    df = spark.createDataFrame([(1, "a b a b a b a b")], ["doc_id", "text"])
    sh = shingles_df(df).collect()[0].sh
    assert sorted(sh) == ["a b a", "b a b"]


def test_simhash_identical_texts_equal(spark, docs):
    out = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert out[1] == out[4]
    assert out[1] != out[3]
    assert out[5] == 0  # empty doc: all votes 0 -> no bits set


def test_cosine_topk_self_first(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    got = cosine_topk(emb, query_vec_id=0, k=3).collect()
    assert [r.vec_id for r in got] == [0, 1, 2]
    assert got[0].cosine_sim == 1.0
    assert got[1].cosine_sim > 0.99 and got[2].cosine_sim == 0.0


def test_simhash_near_dup_pairs_complete_vs_brute_force(spark):
    """Banded hamming join must find EXACTLY the pairs brute force finds at
    distance <= bands-1 (pigeonhole completeness), on real corpus data."""
    from model_audit_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sims = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    brute = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for a in sims
        for b in sims
        if a < b and bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(docs, max_distance=3).collect()
    }
    assert got == brute and len(got) > 0


def test_embedding_lsh_pairs_subset_of_exact_and_finds_planted(spark):
    """LSH near-dup pairs must be a subset of the exact O(n^2) twin, and
    must find planted near-duplicates (cosine ~1 -> identical sign
    signature with the seeded hyperplanes)."""
    import random

    from model_audit_spark.operators.similarity import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_exact,
    )

    rng = random.Random(7)
    dim = 16
    vecs = []
    for i in range(30):
        vecs.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # planted near-dups: tiny perturbations of vectors 0..2
    for j, base in enumerate(vecs[:3]):
        vecs.append(
            (100 + j, [x + rng.gauss(0, 1e-4) for x in base[1]])
        )
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_exact(emb, threshold=0.99).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(emb, threshold=0.99).collect()
    }
    assert lsh <= exact
    planted = {(0, 100), (1, 101), (2, 102)}
    assert planted <= lsh
    assert exact == planted  # nothing else is that close


def test_knn_graph_planted_neighbors_and_ordering(spark):
    import random

    from model_audit_spark.operators.similarity import knn_graph

    rng = random.Random(7)
    dim = 16
    vecs = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(30)
    ]
    # planted twin of vector 0: must be its rank-1 neighbor (and vice
    # versa) — identical LSH signatures in every band guarantee collision
    vecs.append((100, [x + rng.gauss(0, 1e-6) for x in vecs[0][1]]))
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")

    g = knn_graph(emb, k=3, n_bands=4, planes_per_band=4, dim=dim)
    rows = g.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    top0 = sorted(by_src[0], key=lambda r: r.rank)
    assert top0[0].dst == 100 and top0[0].cosine_sim >= 0.999999
    top100 = sorted(by_src[100], key=lambda r: r.rank)
    assert top100[0].dst == 0
    for src, nb in by_src.items():
        nb = sorted(nb, key=lambda r: r.rank)
        assert [r.rank for r in nb] == list(range(1, len(nb) + 1))
        sims = [r.cosine_sim for r in nb]
        assert sims == sorted(sims, reverse=True)
        assert len(nb) <= 3 and src not in [r.dst for r in nb]


def test_knn_graph_derives_planes_from_corpus_size(spark):
    """planes_per_band=None derives ceil(log2(N / target_occupancy))
    (floored at 6) from a corpus count — the SCALE.md occupancy policy
    as an operator default. Pinned by equivalence: the derived run is
    row-identical to the run with the explicitly computed plane count
    (same seed, same planes → same buckets → same graph)."""
    import math
    import random

    from model_audit_spark.operators.similarity import knn_graph

    rng = random.Random(11)
    dim = 8
    n = 700  # ceil(log2(700/32)) = 5 -> floored to 6... pick occupancy
    vecs = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")
    occ = 4  # small occupancy target so the derivation exceeds the floor
    expect_planes = max(6, math.ceil(math.log2(n / occ)))  # = 8
    assert expect_planes > 6
    derived = knn_graph(
        emb, k=3, planes_per_band=None, dim=dim, target_occupancy=occ
    )
    explicit = knn_graph(
        emb, k=3, planes_per_band=expect_planes, dim=dim
    )
    a = sorted(map(tuple, derived.collect()))
    b = sorted(map(tuple, explicit.collect()))
    assert a == b and len(a) > 0


def test_knn_graph_bucket_window_equivalence_and_bound(spark):
    """SortingLSH bounded mode (r11): with bucket_window >= every
    bucket's occupancy the output is IDENTICAL to the unbounded
    self-join (every in-bucket pair is within the frame); with a small
    window on a pathological single-cluster corpus the candidate count
    is bounded ~N*W*bands instead of occupancy^2, and the planted twin
    is still found (it sorts adjacent in the projection order)."""
    import random

    from model_audit_spark.operators.similarity import knn_graph

    rng = random.Random(3)
    dim = 16
    vecs = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")
    unbounded = sorted(
        map(tuple, knn_graph(emb, k=3, planes_per_band=4, dim=dim).collect())
    )
    capped = sorted(
        map(
            tuple,
            knn_graph(
                emb, k=3, planes_per_band=4, dim=dim, bucket_window=64
            ).collect(),
        )
    )
    assert capped == unbounded and len(capped) > 0

    # one tight cluster (every vector in one bucket per band, ~planted
    # twins at 1e-6 noise): the windowed graph must still rank each
    # point's twin first while enumerating far fewer candidate pairs
    center = [rng.gauss(0, 1) for _ in range(dim)]
    tight = []
    for i in range(60):
        base = [x + rng.gauss(0, 0.05) for x in center]
        tight.append((2 * i, base))
        tight.append((2 * i + 1, [x + rng.gauss(0, 1e-6) for x in base]))
    temb = spark.createDataFrame(
        tight, "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    g = knn_graph(
        temb, k=1, n_bands=2, planes_per_band=4, dim=dim, bucket_window=8
    ).collect()
    by_src = {r.src: r.dst for r in g if r.rank == 1}
    twin_hits = sum(
        1 for a, b in by_src.items() if b == (a ^ 1)
    )
    assert twin_hits >= int(0.9 * len(by_src)), (twin_hits, len(by_src))

    # the BOUND itself (r12, ADVICE): with k larger than any possible
    # per-src candidate count the rank filter is non-binding, so the
    # output IS the distinct scored-candidate relation. Windowed
    # candidates are structurally <= 2*N*W*bands directed pairs; the
    # unbounded join on the same single-cluster corpus enumerates
    # occupancy^2 — a regression that silently re-enumerates the full
    # bucket (e.g. the frame degenerating to the plain join) now fails
    # here instead of only showing up as a wall-clock cliff.
    n_pts, w_, bands_ = len(tight), 8, 2
    win_all = knn_graph(
        temb, k=10**6, n_bands=bands_, planes_per_band=4, dim=dim,
        bucket_window=w_,
    ).count()
    unb_all = knn_graph(
        temb, k=10**6, n_bands=bands_, planes_per_band=4, dim=dim
    ).count()
    assert win_all <= 2 * n_pts * w_ * bands_, (win_all, n_pts)
    assert win_all < unb_all / 2, (win_all, unb_all)


def test_span_dedup_detects_repeated_span(spark):
    from model_audit_spark.operators.dedup import span_dedup_stats

    span = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, span + " alpha beta gamma delta epsilon"),
            (2, "prefix words here " + span),
            (3, "totally unrelated text with more than enough unique "
                "words to make several spans"),
            (4, "short"),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup_stats(docs, span_tokens=10).collect()
    }
    # the shared 10-token span is duplicated across docs 1 and 2
    assert out[1].n_dup_spans >= 1 and out[2].n_dup_spans >= 1
    assert out[3].n_dup_spans == 0
    # doc 4 has < 10 tokens: emitted with zero spans (explode_outer)
    assert out[4].n_spans == 0 and out[4].n_dup_spans == 0
    assert out[4].dup_span_frac == 0.0
    # n_spans = n_tokens - 9 for stride-1 grams
    assert out[1].n_spans == 15 - 9


def test_minhash_index_roundtrip_and_incremental(spark, tmp_path):
    from model_audit_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_index_read,
        minhash_index_write,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different content about distributed query engines"),
            (3, "a third unrelated document mentioning nothing in common"),
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-copy of doc 1
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            (11, "fresh text that matches no indexed document at all folks"),
        ],
        "doc_id int, text string",
    )
    path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, path)
    idx = minhash_index_read(spark, path)
    # layout: one row per (doc, band), partitioned by band
    assert set(idx.columns) == {"doc_id", "band", "bh"}
    assert idx.count() == 3 * 4

    out = incremental_dedup_pairs(batch, idx, corpus, min_jaccard=0.5)
    rows = out.collect()
    assert [(r.id_new, r.id_idx) for r in rows] == [(10, 1)]
    assert float(rows[0].jaccard) == 1.0


def test_incremental_matches_batch_recompute(spark, tmp_path):
    """Probing a persisted index must find the same cross-set pairs as
    signing everything together (index ⊆ the full band-pair relation)."""
    from model_audit_spark.operators.dedup import (
        incremental_dedup_pairs,
        jaccard_verify,
        lsh_band_rows,
        minhash_band_pairs,
        minhash_signatures,
    )

    texts = [
        (i, f"shared boilerplate prefix sentence number {i % 3} "
            "with enough words to shingle properly")
        for i in range(8)
    ]
    all_docs = spark.createDataFrame(texts, "doc_id int, text string")
    corpus = all_docs.filter("doc_id % 2 = 0")
    batch = all_docs.filter("doc_id % 2 = 1")
    idx = lsh_band_rows(minhash_signatures(corpus))

    inc = {
        (r.id_new, r.id_idx)
        for r in incremental_dedup_pairs(
            batch, idx, corpus, min_jaccard=0.5
        ).collect()
    }
    full = jaccard_verify(
        all_docs,
        minhash_band_pairs(minhash_signatures(all_docs)),
        min_jaccard=0.5,
    )
    cross = {
        (b, a) if b % 2 == 1 else (a, b)
        for a, b in ((r.id_a, r.id_b) for r in full.collect())
        if (a % 2) != (b % 2)
    }
    assert inc == cross


def test_stateless_signatures_equal_batch_aggregate(spark):
    """minhash_signatures is the one signer of batch and streaming
    callers: `keep_cols` ride through untouched (the streaming probe's
    event-time column) without changing any signature, and NULL, empty
    and short docs keep a row holding the MINHASH_PRIME sentinel."""
    from model_audit_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_signatures,
        shingles_df,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "something else entirely different from the others"),
            (4, None),
            (5, ""),
            (6, "two words"),  # < shingle_n tokens -> sentinel
        ],
        "doc_id int, text string",
    )
    plain = minhash_signatures(docs).orderBy("doc_id").collect()
    sigs = [tuple(r)[1:] for r in plain]
    assert sigs[0] == sigs[1] != sigs[2]
    assert sigs[3:] == [(MINHASH_PRIME,) * 16] * 3
    with_ts = docs.withColumn("ts", F.col("doc_id") * 10)
    kept = minhash_signatures(with_ts, keep_cols=("ts",))
    assert kept.columns[:3] == ["doc_id", "ts", "mh_0"]
    rows = kept.orderBy("doc_id").collect()
    assert [r.ts for r in rows] == [10 * r.doc_id for r in plain]
    assert [r[:1] + r[2:] for r in rows] == [tuple(r) for r in plain]
    # a supplied shingle relation carries the kept columns
    sh = shingles_df(with_ts, keep_cols=("ts",))
    assert sh.columns == ["doc_id", "ts", "sh"]
    again = minhash_signatures(with_ts, shingles=sh, keep_cols=("ts",))
    assert again.orderBy("doc_id").collect() == rows


def test_multiprobe_recall_supersets_single_bucket(spark):
    """radius=0 == lsh_topk exactly; radius=1 candidates ⊇ radius=0; and
    multiprobe's result set is closer to (or equal to) exact brute-force
    top-k than single-bucket LSH."""
    from model_audit_spark.operators.similarity import (
        cosine_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k, n_planes, dim = 10, 6, 64
    single = {r.vec_id for r in
              lsh_topk(emb, 0, k, n_planes, dim=dim).collect()}
    r0 = {r.vec_id for r in lsh_multiprobe_topk(
        emb, 0, k, n_planes, probe_radius=0, dim=dim).collect()}
    r1 = {r.vec_id for r in lsh_multiprobe_topk(
        emb, 0, k, n_planes, probe_radius=1, dim=dim).collect()}
    exact = {r.vec_id for r in cosine_topk(emb, 0, k).collect()}
    assert r0 == single
    assert len(r1 & exact) >= len(single & exact)
    # wider probe radius never shrinks the top-k overlap with exact
    r6 = {r.vec_id for r in lsh_multiprobe_topk(
        emb, 0, k, n_planes, probe_radius=n_planes, dim=dim).collect()}
    assert r6 == exact  # probing every bucket IS brute force


def test_top_boilerplate_spans_ranks_repeats(spark):
    from model_audit_spark.operators.dedup import top_boilerplate_spans

    boiler = "all rights reserved by the site"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} and some unique text one"),
            (2, f"{boiler} plus other words two"),
            (3, f"{boiler} again with more content"),
            (4, "a totally different document four"),
            (5, None),
        ],
        "doc_id int, text string",
    )
    rows = top_boilerplate_spans(docs, span_tokens=6, k=5).collect()
    assert rows, "expected repeated spans"
    top = rows[0]
    assert top.span == boiler
    assert top.n_occurrences == 3 and top.n_docs == 3 and top.first_doc == 1
    # nothing unique ever appears
    assert all(r.n_occurrences > 1 for r in rows)


def test_prefix_jaccard_equals_full_with_fewer_candidates(spark):
    """Prefix filtering must return EXACTLY the all-pairs result while
    indexing strictly fewer posting rows than the full inverted index."""
    from model_audit_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    texts = []
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    for i in range(12):
        # near-dup families of 3 + singletons with shared boilerplate
        fam = i // 3
        texts.append((i, base + f" variant {fam} tail words {i % 3}"))
    docs = spark.createDataFrame(texts, "doc_id int, text string")
    for t in (0.3, 0.5, 0.8):
        full = {
            (r.id_a, r.id_b, float(r.jaccard))
            for r in ngram_jaccard_pairs(docs, min_jaccard=t).collect()
        }
        pref = {
            (r.id_a, r.id_b, float(r.jaccard))
            for r in ngram_jaccard_prefix_pairs(docs, min_jaccard=t).collect()
        }
        assert pref == full, t


def test_prefix_jaccard_rejects_bad_threshold(spark):
    import pytest

    from model_audit_spark.operators.dedup import ngram_jaccard_prefix_pairs

    docs = spark.createDataFrame([(1, "x y z")], "doc_id int, text string")
    with pytest.raises(ValueError):
        ngram_jaccard_prefix_pairs(docs, min_jaccard=0.0)


def test_pq_encode_deterministic_and_bounded(spark):
    from model_audit_spark.operators.similarity import (
        pq_codebooks_seeded,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_seeded(emb, m=8, k=16, dim=64)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    a = pq_encode(emb.coalesce(1), books).orderBy("vec_id").collect()
    b = pq_encode(emb.repartition(16), books).orderBy("vec_id").collect()
    assert a == b  # pure projection, partitioning-independent
    for r in a:
        for s in range(8):
            assert 0 <= r[f"code_{s}"] < 16
    # a codebook-seed vector encodes to ITSELF in every subspace
    seed_ids = sorted(r.vec_id for r in emb.select("vec_id")
                      .orderBy("vec_id").limit(16).collect())
    first = next(r for r in a if r.vec_id == seed_ids[0])
    assert all(first[f"code_{s}"] == 0 for s in range(8))


def test_pq_topk_finds_query_and_orders_by_adc(spark):
    from model_audit_spark.operators.similarity import (
        pq_codebooks_seeded,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks_seeded(emb, m=8, k=16, dim=64)
    rows = pq_topk(emb, query_vec_id=0, codebooks=books, k=10).collect()
    assert len(rows) == 10
    dists = [float(r.adc_dist) for r in rows]
    assert dists == sorted(dists)
    # vec 0 is a codebook seed: its ADC distance to itself is the
    # minimum achievable for its codes -> it appears in its own top-k
    assert 0 in {r.vec_id for r in rows}


def test_pq_rerank_improves_toward_exact(spark):
    """Re-ranked PQ results must overlap exact cosine top-k at least as
    much as raw ADC ordering does, and with a full-corpus shortlist the
    re-rank IS the exact result."""
    from model_audit_spark.operators.similarity import (
        cosine_topk,
        pq_codebooks_seeded,
        pq_rerank_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    books = pq_codebooks_seeded(emb, m=8, k=16, dim=64)
    exact = {r.vec_id for r in cosine_topk(emb, 0, 10).collect()}
    adc = {r.vec_id for r in pq_topk(emb, 0, books, 10).collect()}
    rer = {r.vec_id for r in
           pq_rerank_topk(emb, 0, books, k=10, shortlist=50).collect()}
    assert len(rer & exact) >= len(adc & exact)
    full = {r.vec_id for r in
            pq_rerank_topk(emb, 0, books, k=10, shortlist=n).collect()}
    assert full == exact


def test_containment_catches_embedded_doc_that_jaccard_misses(spark):
    """A small doc fully embedded in a much larger one: containment 1.0,
    Jaccard far below threshold — the asymmetric case. Brute-force check
    of every emitted value, plus the miss-proof vs the jaccard path."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from model_audit_spark.operators.dedup import (
        containment_prefix_pairs,
        ngram_jaccard_prefix_pairs,
        shingles_df,
    )

    small = "alpha beta gamma delta epsilon zeta"
    big = small + (
        " one two three four five six seven eight nine ten eleven twelve"
        " thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
    )
    docs = spark.createDataFrame(
        [
            (1, small),
            (2, big),
            (3, "totally different text about spark plans and shuffles"),
            (4, small),  # exact dup of 1
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_prefix_pairs(
            docs, min_containment=0.8
        ).collect()
    }
    # brute force over the same distinct shingle sets
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in shingles_df(docs).collect()
    }
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        denom = max(min(len(sets[a]), len(sets[b])), 1)
        c = round(inter / denom, 6)
        if c >= 0.8:
            expect[(a, b)] = c
    assert got == expect
    assert (1, 2) in got and got[(1, 2)] == 1.0
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_prefix_pairs(
            docs, min_jaccard=0.8
        ).collect()
    }
    assert (1, 2) not in jac  # Jaccard-targeted path misses the embed


def test_paragraph_near_dups_catch_edited_passages(spark):
    """The fuzzy passage tier (r5): a lightly-edited shared paragraph
    must pair at the PARAGRAPH level even though (a) it is not
    byte-identical (exact paragraph dedup misses it) and (b) the
    documents around it differ (document-level Jaccard stays low)."""
    from model_audit_spark.operators.dedup import (
        ngram_jaccard_pairs,
        paragraph_near_dup_pairs,
        paragraph_relation,
    )

    shared_a = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank every single morning in spring"
    )
    # one word edited -> near-dup, not exact-dup
    shared_b = shared_a.replace("spring", "autumn")
    doc1 = (
        "completely unrelated opening paragraph about databases\n\n"
        + shared_a
        + "\n\nclosing text about query optimizers and planners"
    )
    doc2 = (
        "a different intro concerning storage engines entirely\n\n"
        + shared_b
        + "\n\nfinal remarks on vectorized execution pipelines"
    )
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    rel = paragraph_relation(df)
    assert rel.count() == 6
    assert {r["pid"] for r in rel.collect()} == {
        "1:0", "1:1", "1:2", "2:0", "2:1", "2:2"
    }

    pairs = paragraph_near_dup_pairs(df, min_jaccard=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [("1:1", "2:1")]
    assert pairs[0]["jaccard"] >= 0.5
    # the docs as wholes do NOT reach the same threshold
    doc_pairs = ngram_jaccard_pairs(df, min_jaccard=0.5).collect()
    assert doc_pairs == []


def test_dedup_recall_report_pins(spark, docs):
    from model_audit_spark.operators.dedup import (
        dedup_recall_report,
        minhash_band_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    rows = {r.method: r for r in dedup_recall_report(docs).collect()}
    assert sorted(rows) == ["minhash_lsh", "prefix", "simhash", "winnow"]
    n_truth = ngram_jaccard_pairs(docs, min_jaccard=0.5).count()
    assert all(r.n_truth == n_truth for r in rows.values())
    # PPJoin prefix filtering is lossless by theorem: its row must pin
    # recall EXACTLY 1.0 with candidates == truth.
    p = rows["prefix"]
    assert p.n_candidates == n_truth and p.n_hits == n_truth
    assert p.recall_at_t == 1.0
    # recall is a probability; hits never exceed candidates or truth
    for r in rows.values():
        assert 0.0 <= r.recall_at_t <= 1.0
        assert r.n_hits <= r.n_candidates and r.n_hits <= r.n_truth
    # the minhash hit count is exactly |band-candidates ∩ truth|
    cand = {
        (r.id_a, r.id_b)
        for r in minhash_band_pairs(minhash_signatures(docs)).collect()
    }
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    }
    assert rows["minhash_lsh"].n_hits == len(cand & truth)
    assert rows["minhash_lsh"].n_candidates == len(cand)


def test_dedup_recall_report_truth_equals_all_pairs(spark):
    """dedup_recall_report takes its truth from the prefix chain, run
    over the report's one shared shingle relation. At the report's
    threshold that relation must equal the all-pairs
    ngram_jaccard_pairs result row for row — otherwise a lossy prefix
    filter would shrink the truth of every leg unnoticed."""
    import inspect
    from collections import Counter

    from model_audit_spark.operators.dedup import (
        dedup_recall_report,
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    defaults = inspect.signature(dedup_recall_report).parameters
    n = defaults["shingle_n"].default
    t = defaults["min_jaccard"].default
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    # near-dup families of 3 sharing boilerplate, plus an exact copy
    texts = [(i, f"{base} variant {i // 3} tail words {i % 3}")
             for i in range(12)]
    texts.append((12, texts[0][1]))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sh = shingles_df(df, "text", "doc_id", n)
    truth = Counter(
        map(tuple, ngram_jaccard_prefix_pairs(
            df, "text", "doc_id", n, t, shingles=sh
        ).collect())
    )
    full = Counter(
        map(tuple, ngram_jaccard_pairs(df, "text", "doc_id", n, t).collect())
    )
    assert len(truth) > 12 and truth == full


def test_dedup_recall_report_zero_candidate_method_emits_row(spark):
    # disjoint docs: no near-dups at 0.5, no band collisions — every
    # method must still emit a row (zero counts, recall 0 via the
    # greatest(n_truth,1) guard), not vanish from the report.
    from model_audit_spark.operators.dedup import dedup_recall_report

    df = spark.createDataFrame(
        [
            (1, " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(9))),
            (2, " ".join(f"delta{i} epsi{i} zeta{i}" for i in range(9))),
        ],
        ["doc_id", "text"],
    )
    rows = {r.method: r for r in dedup_recall_report(df).collect()}
    assert sorted(rows) == ["minhash_lsh", "prefix", "simhash", "winnow"]
    for r in rows.values():
        assert r.n_truth == 0 and r.n_hits == 0
        assert r.recall_at_t == 0.0


def test_dedup_recall_report_sample_mode(spark, docs):
    """The 100 TB calibration-sample mode (r6): sample_n bounds the
    exact-truth leg while schema and semantics are unchanged — the
    prefix row's losslessness pin must hold ON the sample, and a
    sample at least as large as the corpus is the full report."""
    from model_audit_spark.operators.dedup import dedup_recall_report

    full = dedup_recall_report(docs)
    sampled = dedup_recall_report(docs, sample_n=4)
    assert sampled.schema == full.schema
    rows = {r.method: r for r in sampled.collect()}
    assert sorted(rows) == ["minhash_lsh", "prefix", "simhash", "winnow"]
    p = rows["prefix"]
    assert p.n_candidates == p.n_truth and p.recall_at_t == 1.0
    for r in rows.values():
        assert 0.0 <= r.recall_at_t <= 1.0
        assert r.n_hits <= r.n_candidates and r.n_hits <= r.n_truth
    # sample >= corpus == full-mode rows (the gate configuration is
    # sample_n=None; this pins that the sampling path degrades to it)
    n = docs.count()
    assert sorted(map(tuple, dedup_recall_report(docs, sample_n=n)
                  .collect())) == sorted(map(tuple, full.collect()))


def test_lsh_family_derives_planes_from_corpus_size(spark):
    """n_planes=None on the LSH top-k family and the cosine-pair
    generator resolves through derive_n_planes — pinned by row-identical
    equivalence with the explicitly derived count, plus the derivation
    arithmetic itself (floor at 6, ceil(log2(N/occupancy)) above it)."""
    import random

    from model_audit_spark.operators.similarity import (
        derive_n_planes,
        embedding_cosine_pairs,
        lsh_topk,
    )

    rng = random.Random(5)
    dim = 8
    n = 600
    vecs = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")

    planes = derive_n_planes(emb)  # ceil(log2(600/32)) = 5 -> floor 6
    assert planes == 6
    assert derive_n_planes(emb, target_occupancy=4) == 8  # ceil(log2(150))
    assert derive_n_planes(emb, target_occupancy=4, floor=10) == 10

    a = sorted(map(tuple, lsh_topk(emb, 0, k=5, n_planes=None).collect()))
    b = sorted(map(tuple, lsh_topk(emb, 0, k=5, n_planes=planes).collect()))
    assert a == b and len(a) > 0

    pa = sorted(map(tuple, embedding_cosine_pairs(
        emb, threshold=0.0, n_planes=None).collect()))
    pb = sorted(map(tuple, embedding_cosine_pairs(
        emb, threshold=0.0, n_planes=derive_n_planes(emb, floor=6)
    ).collect()))
    assert pa == pb


def test_lsh_family_defaults_are_scale_safe(spark):
    """The library DEFAULT for every LSH plane-count parameter is the
    occupancy-derived policy (None -> derive_n_planes), not a fixed
    literal: the 100x sweep measured a fixed plane count exhausting
    shuffle disk at 200k vectors, so an un-parameterized caller must get
    the scale-safe configuration. Pins (a) every signature default is
    None, and (b) at 10x the sf0.1 corpus (200k vectors) the derived
    count exceeds the old fixed literals."""
    import inspect

    from model_audit_spark.operators.decontam import embedding_contamination
    from model_audit_spark.operators.similarity import (
        derive_n_planes,
        embedding_cosine_pairs,
        knn_graph,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    for fn, param in [
        (lsh_topk, "n_planes"),
        (lsh_multiprobe_topk, "n_planes"),
        (embedding_cosine_pairs, "n_planes"),
        (knn_graph, "planes_per_band"),
        (embedding_contamination, "n_planes"),
    ]:
        assert inspect.signature(fn).parameters[param].default is None, (
            f"{fn.__name__}.{param} must default to the derive policy"
        )

    # derive_n_planes only consults .count(); a range relation stands in
    # for a 200k-vector corpus (10x the sf0.1 embeddings table).
    big = spark.range(200_000)
    derived = derive_n_planes(big)
    assert derived == 13  # ceil(log2(200000/32))
    assert derived > 12 and derived > 8 and derived > 6  # old literals


def test_ann_index_injection_equals_internal_build(spark):
    """The shared-index injection params (sq8 params/enc, ivf centroids/
    assigned, pq codes) must be row-identical to the internal builds —
    ann_recall_report relies on this to build each index once for all
    eight methods."""
    import random

    from model_audit_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids_seeded,
        ivf_sq8_topk,
        pq_codebooks_seeded,
        pq_encode,
        pq_rerank_topk,
        sq8_encode,
        sq8_params,
        sq8_rerank_topk,
        sq8_topk,
    )

    rng = random.Random(3)
    dim = 8
    vecs = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(80)]
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")
    params = sq8_params(emb)
    enc = sq8_encode(emb, params)
    cents = ivf_centroids_seeded(emb, 4)
    assigned = ivf_assign(emb, cents)
    books = pq_codebooks_seeded(emb, m=4, k=8, dim=dim)
    codes = pq_encode(emb, books)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(sq8_topk(emb, 0, k=5, params=params, enc=enc)) == rows(
        sq8_topk(emb, 0, k=5)
    )
    assert rows(
        sq8_rerank_topk(emb, 0, k=5, params=params, enc=enc)
    ) == rows(sq8_rerank_topk(emb, 0, k=5))
    assert rows(
        ivf_sq8_topk(
            emb, 0, k=5, n_clusters=4, centroids=cents,
            assigned=assigned, params=params, enc=enc,
        )
    ) == rows(ivf_sq8_topk(emb, 0, k=5, n_clusters=4))
    assert rows(
        pq_rerank_topk(emb, 0, codebooks=books, k=5, codes=codes)
    ) == rows(pq_rerank_topk(emb, 0, codebooks=books, k=5))


def test_dlit_bit_exact_round_trip(spark):
    """dlit/dlit2 (one parsed SQL string instead of per-element F.lit
    py4j calls) must reproduce every double BIT-exactly — repr() is the
    shortest round-trip decimal and the D-suffix literal parses through
    Double.parseDouble."""
    import struct

    from model_audit_spark.operators.similarity import dlit, dlit2

    vals = [0.1, -1.5, 1e-300, -2.5e300, 123456789.123456789,
            7.0, -0.0, 4.9e-324, 1.7976931348623157e308]
    got = spark.range(1).select(dlit(vals).alias("x")).first().x
    assert [struct.pack("d", v) for v in got] == [
        struct.pack("d", v) for v in vals
    ]
    lit_form = spark.range(1).select(
        F.array(*[F.lit(v) for v in vals]).alias("x")
    ).first().x
    assert got == lit_form
    m = [[0.1, -2.0], [3.5e-10, 4.0]]
    got2 = spark.range(1).select(dlit2(m).alias("x")).first().x
    assert [list(r) for r in got2] == m


def test_pq_sql_text_equals_dsl_construction(spark):
    """r13: the PQ projections build as ONE parsed SQL string per
    subspace (py4j construction cost) — the parsed form must analyze to
    the SAME Catalyst plan as the previous DSL transform/struct/
    array_min chains (sameResult canonicalizes expression ids), and
    collect identically. A drift in the parsed text (fold order, round
    scale, index base) fails here before it can touch an oracle hash."""
    from model_audit_spark.operators.similarity import (
        as_double_array,
        dlit2,
        pq_codebooks_seeded,
        pq_encode,
        pq_topk,
        seed_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = seed_vectors(emb, 16)
    books = pq_codebooks_seeded(emb, m=8, k=16, dim=64, seeds=seeds)
    m, d = 8, 8

    def sub_l2_dsl(sub, cb):
        return F.aggregate(
            F.zip_with(sub, cb, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    def argmin_entries(sub, book):
        return F.transform(
            dlit2(book),
            lambda cb, i: F.struct(
                F.round(sub_l2_dsl(sub, cb), 9).alias("dist"),
                i.alias("idx"),
            ),
        )

    # the r12 DSL form of pq_encode, verbatim
    base = emb.select(
        F.col("vec_id"), as_double_array("embedding").alias("_v")
    )
    dsl_cols = []
    for s in range(m):
        sub = F.slice(F.col("_v"), s * d + 1, d)
        entries = argmin_entries(sub, books[s])
        dsl_cols.append(
            F.array_min(entries).getField("idx").alias(f"code_{s}")
        )
    dsl_enc = base.select(F.col("vec_id"), *dsl_cols)
    new_enc = pq_encode(emb, books)
    assert new_enc._jdf.queryExecution().analyzed().sameResult(
        dsl_enc._jdf.queryExecution().analyzed()
    )
    assert sorted(map(tuple, new_enc.collect())) == sorted(
        map(tuple, dsl_enc.collect())
    )

    # pq_topk's parsed distance table + ADC sum against the DSL form
    codes = new_enc
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    def dist_table(sub, book):
        return F.transform(
            dlit2(book), lambda cb: F.round(sub_l2_dsl(sub, cb), 9)
        )

    tables = []
    for s in range(m):
        qsub = F.slice(F.col("qv"), s * d + 1, d)
        tables.append(dist_table(qsub, books[s]).alias(f"t_{s}"))
    qt = q.select(*tables)
    joined = codes.crossJoin(F.broadcast(qt))
    dist = None
    for s in range(m):
        term = F.element_at(F.col(f"t_{s}"), F.col(f"code_{s}") + 1)
        dist = term if dist is None else dist + term
    dsl_topk = (
        joined.select(
            F.col("vec_id"), F.round(dist, 6).alias("adc_dist")
        )
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )
    new_topk = pq_topk(emb, 0, books, 10, codes=codes)
    assert new_topk._jdf.queryExecution().analyzed().sameResult(
        dsl_topk._jdf.queryExecution().analyzed()
    )
    assert [tuple(r) for r in new_topk.collect()] == [
        tuple(r) for r in dsl_topk.collect()
    ]
