"""Connected-components duplicate clustering (operators/cluster.py)."""

import pytest
from pyspark.sql import functions as F

from model_audit_spark.operators import cluster as cluster_mod
from model_audit_spark.operators.cluster import (
    cluster_documents,
    connected_components,
)

# pair-count gates: the default resolves these small graphs on the
# driver; 0 forces the distributed loop (and dedup_decisions' window
# chain) for every non-empty pair relation
GATES = (cluster_mod._COLLECT_MAX_PAIRS, 0)


def _gates(monkeypatch):
    """Run the loop body once per gate in GATES — a loop inside each
    test rather than parametrize, so the test IDs stay stable."""
    for gate in GATES:
        monkeypatch.setattr(cluster_mod, "_COLLECT_MAX_PAIRS", gate)
        yield gate


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _new_jobs(spark, build):
    """(build(), number of Spark jobs it launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = build()
    return out, len(set(tracker.getJobIdsForGroup(None) or []) - before)


def test_chain_transitivity(spark, monkeypatch):
    # 1-2, 2-3, 3-4: (1,4) never a pair, but all one component.
    for _ in _gates(monkeypatch):
        comp = connected_components(
            _pairs(spark, [(1, 2), (2, 3), (3, 4)])
        )
        got = {r["node"]: r["comp"] for r in comp.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_and_edge_direction(spark, monkeypatch):
    # second component given with ids reversed (7, 5): min still wins
    for _ in _gates(monkeypatch):
        comp = connected_components(_pairs(spark, [(1, 2), (7, 5)]))
        got = {r["node"]: r["comp"] for r in comp.collect()}
        assert got == {1: 1, 2: 1, 5: 5, 7: 5}


def test_long_chain_converges_past_one_round(spark, monkeypatch):
    # diameter-8 path: needs several propagation rounds, not just one
    edges = [(i, i + 1) for i in range(10, 18)]
    for _ in _gates(monkeypatch):
        comp = connected_components(_pairs(spark, edges))
        assert {r["comp"] for r in comp.collect()} == {10}


def test_connected_components_rejects_non_positive_max_iter(spark):
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_iter"):
            connected_components(_pairs(spark, [(1, 2)]), max_iter=bad)


def test_fallback_loop_raises_when_rounds_run_out(spark, monkeypatch):
    """A diameter-8 chain cannot converge in 2 rounds: the loop must
    refuse to return a partial closure."""
    monkeypatch.setattr(cluster_mod, "_COLLECT_MAX_PAIRS", 0)
    edges = [(i, i + 1) for i in range(10, 18)]
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(_pairs(spark, edges), max_iter=2)


def test_null_ids_match_the_loop(spark, monkeypatch):
    """A NULL endpoint joins nothing on either path: its partner stays a
    singleton and the NULL surfaces as one (NULL, NULL) row."""
    rows = [(1, 2), (3, None), (None, None), (2, 4)]
    got = []
    for _ in _gates(monkeypatch):
        comp = connected_components(_pairs(spark, rows))
        got.append(sorted(map(tuple, comp.collect()), key=repr))
    assert got[0] == got[1]
    assert dict(got[0]) == {1: 1, 2: 1, 4: 1, 3: 3, None: None}


def test_collected_path_launches_few_jobs(spark, monkeypatch):
    """Below the gate the components cost one collect job, where the
    loop pays a seed checkpoint plus a checkpoint and a count per round;
    dedup_decisions adds one join job for the member qualities."""
    from model_audit_spark.operators.cluster import dedup_decisions

    edges = _pairs(spark, [(i, i + 1) for i in range(1, 6)]).persist()
    edges.count()
    _, fast = _new_jobs(spark, lambda: connected_components(edges))
    assert fast == 1
    q = spark.range(1, 8).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 10).alias("quality_score"),
    )
    pairs = edges.withColumn("jaccard", F.lit(0.5))
    dec, n = _new_jobs(spark, lambda: dedup_decisions(q, pairs))
    assert n <= 3, f"collected dedup_decisions ran {n} jobs"
    assert dec.count() == 5
    monkeypatch.setattr(cluster_mod, "_COLLECT_MAX_PAIRS", 0)
    _, slow = _new_jobs(spark, lambda: connected_components(edges))
    assert slow > 5, f"forced loop ran only {slow} jobs"
    edges.unpersist()


def test_cluster_documents_singletons_and_keep(spark, monkeypatch):
    docs = spark.range(1, 7).select(F.col("id").alias("doc_id"))
    for _ in _gates(monkeypatch):
        out = cluster_documents(docs, _pairs(spark, [(2, 4), (4, 6)]))
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[2]["cluster_id"] == 2 and rows[4]["cluster_id"] == 2
        assert rows[6]["cluster_id"] == 2 and rows[6]["cluster_size"] == 3
        # singletons keep themselves
        for d in (1, 3, 5):
            assert rows[d]["cluster_id"] == d and rows[d]["keep"]
            assert rows[d]["cluster_size"] == 1
        # exactly one keeper per cluster, and it is the min id
        assert rows[2]["keep"]
        assert not rows[4]["keep"] and not rows[6]["keep"]


def test_empty_pairs_all_singletons(spark, monkeypatch):
    docs = spark.range(3).select(F.col("id").alias("doc_id"))
    for _ in _gates(monkeypatch):
        out = cluster_documents(docs, _pairs(spark, []))
        assert all(
            r["keep"] and r["cluster_size"] == 1 for r in out.collect()
        )


def test_source_overlap_counts_cross_source_pairs(spark):
    from model_audit_spark.operators.cluster import source_overlap

    docs = spark.createDataFrame(
        [(1, "A", "x"), (2, "B", "x"), (3, "A", "y"), (4, "A", "y"),
         (5, "C", "z")],
        "doc_id int, source string, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (2, 1)], "id_a int, id_b int"
    )
    got = {
        (r.source_a, r.source_b): r.n_pairs
        for r in source_overlap(docs, pairs).collect()
    }
    # (1,2) and its reverse (2,1) both map to the normalized (A, B) key;
    # (3,4) is within-source A
    assert got == {("A", "B"): 2, ("A", "A"): 1}


def test_pagerank_hub_and_isolated_nodes(spark):
    from model_audit_spark.operators.cluster import (
        PAGERANK_SCALE,
        pagerank,
    )

    nodes = spark.createDataFrame(
        [(i,) for i in range(5)], "node int"
    )
    # star: 1..3 all point at hub 0 (and back, symmetric); 4 isolated
    pairs = [(1, 0), (2, 0), (3, 0)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src int, dst int"
    )
    pr = {r.node: r.pr for r in pagerank(nodes, edges, iterations=3).collect()}
    # hub collects from three spokes -> strictly highest rank
    assert pr[0] > max(pr[i] for i in (1, 2, 3, 4))
    # spokes are symmetric -> identical rank
    assert pr[1] == pr[2] == pr[3]
    # isolated node keeps only teleport + dangling share, below spokes
    assert pr[4] < pr[1]
    # total mass ~ SCALE (floor-division leakage only: < 1000 pico-mass)
    assert 0 <= PAGERANK_SCALE - sum(pr.values()) < 1000
    # deterministic across runs
    again = {
        r.node: r.pr for r in pagerank(nodes, edges, iterations=3).collect()
    }
    assert again == pr


def test_pagerank_empty_graph_returns_empty(spark):
    from model_audit_spark.operators.cluster import pagerank

    nodes = spark.createDataFrame([], "node string")
    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(nodes, edges)
    assert out.columns == ["node", "pr"]
    assert out.count() == 0


def test_cluster_retention_keeps_best_quality(spark, monkeypatch):
    from model_audit_spark.operators.cluster import (
        cluster_retention_by_quality,
    )

    docs = spark.createDataFrame(
        [(1, 0.3), (2, 0.9), (3, 0.9), (4, 0.5)],
        "doc_id long, quality_score double",
    )
    # 1-2-3 form one cluster; 4 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    for _ in _gates(monkeypatch):
        out = {
            r.doc_id: r
            for r in cluster_retention_by_quality(docs, pairs).collect()
        }
        # highest quality wins; tie (2 vs 3 at 0.9) -> lowest id
        assert out[2].keep and not out[1].keep and not out[3].keep
        assert out[4].keep and out[4].cluster_size == 1
        assert out[1].cluster_size == 3


def test_triangle_counts_basic(spark):
    from model_audit_spark.operators.cluster import triangle_counts

    # triangle 1-2-3 plus a pendant 3-4 and a duplicate/reversed edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 1), (3, 4), (4, 4)],
        "src long, dst long",
    )
    rows = {r.node: r.n_triangles for r in
            triangle_counts(edges).collect()}
    assert rows == {1: 1, 2: 1, 3: 1}  # node 4 has none; self-loop ignored


def test_triangle_counts_complete_graph(spark):
    from model_audit_spark.operators.cluster import triangle_counts

    # K4: each node sits in C(3,2)=3 triangles
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    rows = {r.node: r.n_triangles for r in
            triangle_counts(edges).collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}


def test_incremental_clusters_equal_full_recompute(spark, monkeypatch):
    from pyspark.sql import Row
    from model_audit_spark.operators.cluster import (
        cluster_documents,
        incremental_cluster_documents,
    )

    old_docs = spark.createDataFrame(
        [Row(doc_id=i) for i in [1, 2, 3, 5, 6, 7, 8]]
    )
    old_pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6)]
    )
    all_docs = spark.createDataFrame(
        [Row(doc_id=i) for i in [1, 2, 3, 5, 6, 7, 8, 10, 20]]
    )
    # new batch: joins old clusters together and brings a new member in
    new_pairs = spark.createDataFrame(
        [Row(id_a=3, id_b=10), Row(id_a=10, id_b=5), Row(id_a=20, id_b=7)]
    )
    for _ in _gates(monkeypatch):
        assignment = cluster_documents(old_docs, old_pairs).select(
            "doc_id", "cluster_id"
        )
        inc = {r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keep"])
               for r in incremental_cluster_documents(
                   all_docs, assignment, new_pairs).collect()}
        full = {r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keep"])
                for r in cluster_documents(
                    all_docs, old_pairs.unionByName(new_pairs)).collect()}
        assert inc == full
        # the merged mega-cluster {1,2,3,5,6,10} keeps min-id 1
        assert inc[10] == (1, 6, False) and inc[1][2] is True
        # untouched singleton stays a singleton
        assert inc[8] == (8, 1, True)


def test_graph_stats_triangle_plus_tail(spark):
    from pyspark.sql import Row
    from model_audit_spark.operators.cluster import graph_stats

    # triangle 1-2-3 plus a pendant edge 3-4 (duplicated + reversed
    # inputs must normalize away)
    edges = spark.createDataFrame([
        Row(src=1, dst=2), Row(src=2, dst=1), Row(src=2, dst=3),
        Row(src=1, dst=3), Row(src=3, dst=4), Row(src=4, dst=4),
    ])
    r = graph_stats(edges).collect()[0]
    assert r["n_nodes"] == 4 and r["n_edges"] == 4
    assert r["max_degree"] == 3  # node 3
    # wedges: deg [2,2,3,1] -> 1+1+3+0 = 5; one triangle
    assert r["n_wedges"] == 5 and r["n_triangles"] == 1
    assert r["clustering_coeff"] == 0.6  # 3*1/5
    assert r["mean_degree"] == 2.0


def test_degree_orientation_kills_hub_wedges(spark):
    """A boilerplate hub (star) generates ZERO out-wedges under the
    degree-ordered orientation — id-orientation would pay C(n, 2) at the
    hub. Also pins total wedge fan-out on star+triangle and that the
    triangle counts still come out right with a high-degree hub in play."""
    from pyspark.sql import functions as F

    from model_audit_spark.operators.cluster import (
        _oriented_edges,
        triangle_counts,
    )

    # hub 0 with leaves 1..20, plus triangle (1, 2, 21); the 1-2 edge
    # also closes a second triangle (0, 1, 2) through the hub
    star = [(0, i) for i in range(1, 21)]
    tri = [(1, 2), (1, 21), (2, 21)]
    edges = spark.createDataFrame(star + tri, "src LONG, dst LONG")
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    o = _oriented_edges(und)
    outdeg = {r["u"]: r["n"] for r in
              o.groupBy("u").agg(F.count("*").alias("n")).collect()}
    # hub 0 has degree 20 — every star edge points INTO it, and its
    # out-degree stays 0; wedge fan-out Σ C(outdeg, 2) stays tiny
    assert outdeg.get(0, 0) == 0
    n_wedges = sum(d * (d - 1) // 2 for d in outdeg.values())
    assert n_wedges <= 3  # vs C(20, 2) = 190 at an id-oriented hub
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 21: 1}


def test_dedup_decisions_names_keeper_and_direct_pairs(spark, monkeypatch):
    """Cluster {1,2,3} chained 1-2, 2-3 (no 1-3 pair): keeper is the
    highest quality (doc 2); removed docs point at it, with a direct
    jaccard for observed pairs and NULL for the transitive one."""
    from model_audit_spark.operators.cluster import dedup_decisions

    q = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.6), (9, 0.5)],
        "doc_id long, quality_score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.8), (2, 3, 0.7)], "id_a long, id_b long, jaccard double"
    )
    for _ in _gates(monkeypatch):
        got = {r.removed_id: r for r in dedup_decisions(q, pairs).collect()}
        assert set(got) == {1, 3}  # doc 9 is a singleton, doc 2 kept
        assert got[1].kept_id == 2 and got[1].direct_jaccard == 0.8
        assert got[3].kept_id == 2 and got[3].direct_jaccard == 0.7
        assert got[1].cluster_size == 3
        assert got[1].removed_quality == 0.4 and got[1].kept_quality == 0.9


def test_dedup_decisions_transitive_pair_has_null_jaccard(spark, monkeypatch):
    from model_audit_spark.operators.cluster import dedup_decisions

    q = spark.createDataFrame(
        [(1, 0.9), (2, 0.1), (3, 0.2)],
        "doc_id long, quality_score double",
    )
    # 1-2 and 2-3 observed; keeper is 1, so removed 3 is transitive
    pairs = spark.createDataFrame(
        [(1, 2, 0.6), (2, 3, 0.55)],
        "id_a long, id_b long, jaccard double",
    )
    for _ in _gates(monkeypatch):
        got = {r.removed_id: r for r in dedup_decisions(q, pairs).collect()}
        assert got[2].direct and got[2].direct_jaccard == 0.6
        assert not got[3].direct and got[3].direct_jaccard is None


def test_label_propagation_bridge_vs_cc(spark):
    # two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10:
    # connected components fuses them; LPA's modal support must not.
    from model_audit_spark.operators.cluster import label_propagation

    und = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 99]], ["node"]
    )
    out = {
        r.node: r.community
        for r in label_propagation(nodes, edges, rounds=4).collect()
    }
    assert len(out) == 7
    assert out[99] == 99  # isolated keeps own label
    left = {out[1], out[2], out[3]}
    right = {out[10], out[11], out[12]}
    assert len(left) == 1 and len(right) == 1
    assert left != right  # the bridge must NOT fuse the triangles


def test_label_propagation_tie_breaks_to_least_label(spark):
    # node 5 sees neighbors {1, 2} once each after round 1 — the tie
    # must resolve to the LEAST label, deterministically.
    from model_audit_spark.operators.cluster import label_propagation

    und = [(1, 5), (2, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 5]], ["node"])
    out = {
        r.node: r.community
        for r in label_propagation(nodes, edges, rounds=1).collect()
    }
    assert out[5] == 1  # tie {1,2} -> least
    assert out[1] == 5 and out[2] == 5  # their only neighbor is 5


def test_k_core_peels_path_keeps_triangle(spark):
    # path 1-2-3-4 (every interior node ends at degree < 2 once the
    # ends peel) + triangle 10-11-12 (each degree 2, survives k=2) +
    # isolated 99. 8 rounds is past this graph's fixpoint (2 peels),
    # so the output IS the true 2-core.
    from model_audit_spark.operators.cluster import k_core

    und = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], ["node"]
    )
    out = {
        r.node: (r.in_core, r.core_deg)
        for r in k_core(nodes, edges, k=2, rounds=8).collect()
    }
    assert len(out) == 8
    for n in [1, 2, 3, 4, 99]:
        assert out[n] == (False, 0)
    for n in [10, 11, 12]:
        assert out[n] == (True, 2)


def test_k_core_fixpoint_within_round_budget(spark):
    # the certified-iteration contract: extra rounds past the fixpoint
    # change nothing, so the fixed 8-round budget equals the true core
    # (two 4-cliques sharing one node; k=3 keeps both cliques whole).
    from model_audit_spark.operators.cluster import k_core

    c1 = [(a, b) for a in [1, 2, 3, 4] for b in [1, 2, 3, 4] if a < b]
    c2 = [(a, b) for a in [4, 5, 6, 7] for b in [4, 5, 6, 7] if a < b]
    und = c1 + c2
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["node"])
    r8 = sorted(
        (r.node, r.in_core, r.core_deg)
        for r in k_core(nodes, edges, k=3, rounds=8).collect()
    )
    r2 = sorted(
        (r.node, r.in_core, r.core_deg)
        for r in k_core(nodes, edges, k=3, rounds=2).collect()
    )
    assert r8 == r2
    assert all(in_core for _, in_core, _ in r8)
    # the shared node 4 sees both cliques: degree 6 in the final core
    deg = dict((n, d) for n, _, d in r8)
    assert deg[4] == 6 and deg[1] == 3 and deg[7] == 3


def test_effective_corpus_size_hand_computed(spark, monkeypatch):
    """Three docs in one source: docs 1,2 are a dup pair (cluster size
    2), doc 3 a singleton. Weighted mass = tok·1e6 DIV size summed
    exactly; a second source with one doc is untouched."""
    from model_audit_spark.operators.cluster import (
        cluster_documents,
        effective_corpus_size,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "web"),     # 4 tokens, dup
            (2, "a b c e", "web"),     # 4 tokens, dup
            (3, "x y z", "web"),       # 3 tokens, singleton
            (4, "p q", "books"),       # 2 tokens, singleton
        ],
        "doc_id long, text string, source string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for _ in _gates(monkeypatch):
        clusters = cluster_documents(docs, pairs, "doc_id")
        out = {r.source: r for r in
               effective_corpus_size(docs, clusters).collect()}
        web, books = out["web"], out["books"]
        assert (web.n_docs, web.dup_docs, web.raw_tokens) == (3, 2, 11)
        # 4·1e6/2 + 4·1e6/2 + 3·1e6/1 = 7_000_000 ppm-tokens (7 effective)
        assert web.effective_tokens_ppm == 7_000_000
        assert (books.n_docs, books.dup_docs, books.raw_tokens) == (1, 0, 2)
        assert books.effective_tokens_ppm == 2_000_000


def test_adamic_adar_scores_exact(spark):
    import math

    from model_audit_spark.operators.cluster import adamic_adar_scores

    # 1-2, 1-3, 2-3 triangle plus pendant 2-4: open wedges at center 2
    # are (1,4) and (3,4); (1,3) is closed. deg(2)=3 -> w = 1/ln 3.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4)], "src long, dst long"
    )
    rows = adamic_adar_scores(edges, max_degree=1000, top_k=10).collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert set(got) == {(1, 4), (3, 4)}
    w9 = 10**18 // round(math.log(3) * 1e9)
    for key in got:
        assert got[key].n_common == 1
        assert got[key].aa_score == w9 / 1e9
    # excluding the only center kills every wedge
    assert (
        adamic_adar_scores(edges, max_degree=2, top_k=10).count() == 0
    )


def test_community_modularity_two_triangles(spark):
    from model_audit_spark.operators.cluster import community_modularity

    # two triangles joined by one bridge: m = 7,
    # Q = 2*(3/7 - (7/14)^2) = 5/14 = 0.357142857...
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(i, "A" if i <= 3 else "B") for i in range(1, 7)],
        "doc_id long, community string",
    )
    row = community_modularity(labels, edges).collect()[0]
    assert row.n_communities == 2 and row.m_edges == 7
    assert row.modularity == 0.357143
    # the degenerate one-community partition scores 0
    one = labels.withColumn("community", F.lit("X"))
    assert community_modularity(one, edges).collect()[0].modularity == 0.0


def test_partition_label_nmi_aligned_and_independent(spark):
    from model_audit_spark.operators.cluster import partition_label_nmi

    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, "B")],
        "doc_id long, community string",
    )
    aligned = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2"), (4, "s2")],
        "doc_id long, source string",
    )
    row = partition_label_nmi(labels, aligned).collect()[0]
    assert (row.n_labels, row.n_categories, row.n_docs) == (2, 2, 4)
    assert row.nmi == 1.0
    independent = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s1"), (4, "s2")],
        "doc_id long, source string",
    )
    row = partition_label_nmi(labels, independent).collect()[0]
    assert abs(row.nmi) < 1e-6
    # degenerate: one label x one category -> undefined
    one = spark.createDataFrame(
        [(i, "X") for i in range(1, 5)], "doc_id long, community string"
    )
    onecat = spark.createDataFrame(
        [(i, "s") for i in range(1, 5)], "doc_id long, source string"
    )
    assert partition_label_nmi(one, onecat).collect()[0].nmi is None


def test_iterative_loops_compile_without_eager_round_jobs(
    spark, monkeypatch
):
    """r12 deadlock-fix contract (persistence.lazy_checkpoint_scope):
    the CC fallback / LP / k-core / pagerank / Lloyd loops compile their
    rounds under AQE-off, so construction launches a small BOUNDED
    number of jobs (the pinned relation's fill, eager checkpoints and
    the per-round actions) — not the 3-5 AQE stage-materialization jobs
    per round whose concurrent lazy-checkpoint materialization
    deadlocked the scheduler against a broadcast-exchange thread
    (caught live under jstack). The AQE and broadcast session confs
    must also be restored afterwards."""
    from model_audit_spark.operators.cluster import (
        k_core,
        label_propagation,
        pagerank,
    )
    from model_audit_spark.operators.similarity import lloyd_kmeans

    conf = (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    )
    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 9) for b in range(1, 9) if a != b],
        "src long, dst long",
    )
    nodes = spark.range(1, 9).select(F.col("id").alias("node"))

    # measured on local[4]: 5, 5, 10, 7 and 9 jobs in the order below;
    # the bounds keep slack for Spark-internal jobs
    lp, n = _new_jobs(
        spark,
        lambda: label_propagation(nodes, edges, rounds=4, id_col="node"),
    )
    # edge fill (AQE) + base eager + final-round eager
    assert n <= 8, f"label_propagation construction ran {n} jobs"
    assert lp.count() == 8

    kc, n = _new_jobs(spark, lambda: k_core(nodes, edges, k=2, rounds=8))
    # edge fill + final-round eager + final_deg eager
    assert n <= 8, f"k_core construction ran {n} jobs"
    assert kc.count() == 8

    prd, n = _new_jobs(
        spark, lambda: pagerank(nodes, edges, iterations=3)
    )
    # nodes.count + edge fill + node_info eager + 3 dangling collects
    # + final eager
    assert n <= 14, f"pagerank construction ran {n} jobs"
    assert prd.count() == 8

    monkeypatch.setattr(cluster_mod, "_COLLECT_MAX_PAIRS", 0)
    cc, n = _new_jobs(
        spark, lambda: connected_components(edges, "src", "dst")
    )
    # gate probe + edge fill + one changed-label count per round
    assert n <= 10, f"connected_components fallback ran {n} jobs"
    assert {r.comp for r in cc.collect()} == {1}

    rows = [(i, [1.0, 1.0, 0.0, 0.0]) for i in range(10)]
    rows += [(100 + i, [-1.0, -1.0, 0.0, 0.0]) for i in range(10)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    km, n = _new_jobs(spark, lambda: lloyd_kmeans(vecs, k=2, iterations=3))
    # fill + init collect + 2 centroid collects + output checkpoint
    assert n <= 12, f"lloyd_kmeans construction ran {n} jobs"
    assert km.count() == 20

    assert (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    ) == conf


@pytest.mark.parametrize(
    "loop", ["pagerank", "label_propagation", "k_core", "lloyd_kmeans"]
)
def test_loops_reject_non_positive_rounds(spark, loop):
    """A zero round budget fails with ValueError instead of returning
    an unrefined relation."""
    from model_audit_spark.operators.cluster import (
        k_core,
        label_propagation,
        pagerank,
    )
    from model_audit_spark.operators.similarity import lloyd_kmeans

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    nodes = spark.range(1, 3).select(F.col("id").alias("node"))
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    call = {
        "pagerank": lambda: pagerank(nodes, edges, iterations=0),
        "label_propagation": lambda: label_propagation(
            nodes, edges, rounds=0
        ),
        "k_core": lambda: k_core(nodes, edges, rounds=0),
        "lloyd_kmeans": lambda: lloyd_kmeans(vecs, k=2, iterations=0),
    }[loop]
    with pytest.raises(ValueError, match="must be >= 1, got 0"):
        call()


def test_lazy_checkpoint_scope_restores_conf_on_error(spark):
    from model_audit_spark.persistence import lazy_checkpoint_scope

    before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        with lazy_checkpoint_scope(spark):
            assert (
                spark.conf.get("spark.sql.adaptive.enabled") == "false"
            )
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
