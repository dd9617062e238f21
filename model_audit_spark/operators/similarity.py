"""Embedding similarity search (scale extension, BASELINE.json north star).

- `cosine_topk`: exact brute-force cosine top-k against one query vector.
  O(N·d) scan with no shuffle except the final top-k (Spark TakeOrdered);
  this is the correctness baseline.
- `rhp_signatures` / `lsh_topk`: random-hyperplane LSH. Signatures are
  computed from literal hyperplane arrays (seeded, generated driver-side, tiny)
  so the whole thing stays in whole-stage codegen. At 100 TB the bucketed
  variant turns the scan into a bucket-pruned lookup: candidates share the
  query's signature prefix; recall is tuned by `probe_bits` (multi-probe on
  Hamming-adjacent buckets).

All arithmetic is in double; embeddings cast from float32 once.
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of _dot over two ARRAY<DOUBLE> values, for one-string
    builders (the same zip_with + aggregate, summed in element order)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def dlit(vals) -> Column:
    """ARRAY<DOUBLE> literal parsed from ONE SQL string.

    The obvious `F.array(*[F.lit(x) ...])` costs one py4j round-trip per
    element (~1 ms each on this harness); a 64-dim plane built that way
    burns ~70 ms of pure driver time, and literal-heavy operators (PQ
    codebooks, IVF centroids, multi-band hyperplanes) were measured
    spending SECONDS per query in construction alone. One parsed
    `array(0.1D, ...)` string is ~240× cheaper and bit-exact: repr()
    emits the shortest round-trip decimal and the D-suffix literal goes
    through Double.parseDouble (pinned in tests)."""
    return F.expr(
        "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"
    )


def _dlit2_sql(rows) -> str:
    """SQL text of an ARRAY<ARRAY<DOUBLE>> literal (dlit's repr()/D
    discipline) — for embedding in larger one-string expressions."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in r) + ")"
            for r in rows
        )
        + ")"
    )


def dlit2(rows) -> Column:
    """ARRAY<ARRAY<DOUBLE>> literal parsed from ONE SQL string (dlit)."""
    return F.expr(_dlit2_sql(rows))


# quote, backslash and dollar go in as \uXXXX escapes: the parser's
# unescaping restores them, and `${` never reaches variable substitution
_SQL_STR_ESCAPES = {ord(ch): f"\\u{ord(ch):04x}" for ch in "'\\$"}


def sql_str(s: str) -> str:
    """SQL text of a STRING literal equal to `s` — the quoting every
    one-string expression builder uses for catalog text (markers with
    apostrophes, CJK hints). `F.expr(sql_str(s))` analyzes to the same
    Literal as `F.lit(s)` for any text (property-tested)."""
    return "'" + s.translate(_SQL_STR_ESCAPES) + "'"


def sql_num(v: int | float) -> str:
    """SQL text of a numeric literal of the same type as `F.lit(v)`:
    INT/BIGINT for a Python int, DOUBLE (the `D` suffix, dlit's repr()
    discipline) for a float."""
    if isinstance(v, bool) or not isinstance(v, numbers.Real):
        raise TypeError(f"sql_num: not a number: {v!r}")
    if isinstance(v, numbers.Integral):
        return repr(int(v))
    return f"{float(v)!r}D"


def sql_ident(name: str) -> str:
    """SQL text of a column reference to `name` (backtick-quoted)."""
    return "`" + name.replace("`", "``") + "`"


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def cosine_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine; deterministic order (rounded sim DESC, id ASC).

    The query norm rides in the broadcast row (computed once, not per
    corpus row — same doubles either way)."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        as_double_array(vec_col).alias("qv")
    )
    q = q.select("qv", _norm(F.col("qv")).alias("qn"))
    base = emb.select(
        F.col(id_col), as_double_array(vec_col).alias("ev")
    ).crossJoin(F.broadcast(q))
    sim = _dot(F.col("ev"), F.col("qv")) / (
        _norm(F.col("ev")) * F.col("qn")
    )
    return (
        base.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def derive_n_planes(
    emb: DataFrame, target_occupancy: int = 32, floor: int = 6
) -> int:
    """The SCALE.md LSH knob policy as a helper: plane counts must grow
    ~log2(N) so expected bucket occupancy (N / 2^planes) stays constant
    — in-bucket candidate work is quadratic in occupancy, and the 100x
    sweep measured a fixed plane count exhausting 80 GB of shuffle disk
    at 200k vectors. ceil(log2(N / target_occupancy)), floored (the
    pinned gate defaults remain explicit so their evidence is stable).
    Costs one count() — metadata-backed on parquet sources."""
    import math

    n = emb.count()
    return max(floor, math.ceil(math.log2(max(n / target_occupancy, 2.0))))


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42):
    """Deterministic Gaussian hyperplanes (driver-side literals)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def rhp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-packed random-hyperplane signature (sign of dot per plane).

    Constant construction cost (r12): ONE constant-folded 2-D literal
    (dlit2) and a transform-with-index + aggregate whose loop lives in
    the HOF evaluator — the previous per-plane Python loop cost ~25
    py4j round-trips PER PLANE (a 52-plane knn_graph build spent
    seconds of pure driver time here). Bit-identical output: the
    per-plane dot keeps the same zip_with/aggregate fold, and the
    signature is the same left-to-right integer sum from 0L with
    1L<<i per set bit (shiftleft == the old 1 << i literals)."""
    return F.aggregate(
        F.transform(
            dlit2(planes),
            lambda p, i: F.when(
                F.aggregate(
                    F.zip_with(vec, p, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0,
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), i
                ),
            )
            .otherwise(0)
            .cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def lsh_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    — lsh_multiprobe_topk at probe_radius=0 (the shared implementation;
    equality pinned in tests).

    At scale, write the table bucketed/partitioned by `bucket` so the probe
    prunes to one partition instead of scanning N rows.
    """
    return lsh_multiprobe_topk(
        emb, query_vec_id, k, n_planes, 0, id_col, vec_col, dim, sigs
    )


def lsh_multiprobe_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int | None = None,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe LSH top-k: candidates from every bucket within
    Hamming distance `probe_radius` of the query's bucket — the standard
    recall repair for single-bucket LSH (a near neighbor on the wrong
    side of ONE hyperplane lands at distance 1, not in the query
    bucket). radius=0 degenerates to lsh_topk; recall grows
    monotonically with radius (superset containment pinned in tests),
    cost grows as Σ C(n_planes, r) buckets probed.

    The probe set is expressed as `bit_count(bucket XOR qbucket) <=
    radius` against the broadcast query row — no explicit bucket-list
    explosion, and on a bucket-partitioned layout the equivalent IN-list
    of ≤ 1 + C(n,1) + … bucket ids prunes partitions instead.

    `n_planes=None` (the default) derives the count from corpus size via
    derive_n_planes (the occupancy policy) — the scale-safe configuration
    is the one an un-parameterized caller gets. Gate queries pass their
    pinned literals explicitly so their evidence hashes stay stable.

    `sigs`: a pre-built (id, ev, bucket) signature relation to reuse
    (r12 — the shingles= injection pattern; the caller owns its
    persist/release lifecycle and must have built it with the SAME
    planes this call would derive). A parameter sweep probing several
    radii against one corpus signs the corpus once instead of once per
    radius."""
    if n_planes is None:
        n_planes = derive_n_planes(emb)
    if sigs is None:
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        planes = random_hyperplanes(dim, n_planes)
        sigs = emb.select(
            F.col(id_col),
            as_double_array(vec_col).alias("ev"),
        ).withColumn("bucket", rhp_signature(F.col("ev"), planes))
    qrow = sigs.filter(F.col(id_col) == query_vec_id).select(
        F.col("ev").alias("qv"), F.col("bucket").alias("qbucket")
    )
    qrow = qrow.select("qv", "qbucket", _norm(F.col("qv")).alias("qn"))
    cands = sigs.join(
        F.broadcast(qrow),
        F.bit_count(
            F.col("bucket").bitwiseXOR(F.col("qbucket"))
        ) <= probe_radius,
    )
    sim = _dot(F.col("ev"), F.col("qv")) / (
        _norm(F.col("ev")) * F.col("qn")
    )
    return (
        cands.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket by LSH signature, exact cosine
    within buckets, keep pairs >= threshold. The bucket join replaces the
    O(N²) cross product with Σ bucket². `n_planes=None` (the default)
    derives the count from corpus size via derive_n_planes (the occupancy
    policy); gate queries pin literals explicitly."""
    if n_planes is None:
        n_planes = derive_n_planes(emb)
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes)
    sigs = (
        emb.select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .withColumn("bucket", rhp_signature(F.col("v"), planes))
        # norm once per vector, not per candidate pair (same doubles)
        .withColumn("nv", _norm(F.col("v")))
    )
    a = sigs.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = sigs.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def embedding_cosine_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold — the O(N²) VERIFICATION twin of
    embedding_cosine_pairs (reference for the LSH-bucketed scale path; the
    LSH output must be a subset of this with high recall). Run only at
    oracle/test scale; at 100 TB use the bucketed variant.

    Norms are computed ONCE per vector and carried through the join
    (identical doubles to recomputing inline — sqrt of the same sum —
    so the SQL twin is unaffected); recomputing them per pair tripled
    the per-pair flops."""
    v = emb.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
    ).select(
        id_col, "v", _norm(F.col("v")).alias("nv")
    )
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def ivf_index_kmeans(
    emb: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF coarse-quantizer TRAINER (production build step): MLlib KMeans.

    Returns (assigned DataFrame with `cluster`, centroids list). This is
    the expensive, iterative part of IVF and runs ONCE at index-build time
    — at scale, persist `assigned` partitioned/bucketed by `cluster` so a
    probe scans only nprobe partitions; centroids (k × dim floats) stay
    driver-side — they ARE the index. Query-time is `ivf_probe`, which
    never fits anything."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = emb.select(
        F.col(id_col), as_double_array(vec_col).alias("ev")
    ).withColumn("features", array_to_vector(F.col("ev")))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features",
                predictionCol="cluster")
    model = km.fit(base)
    assigned = model.transform(base).select(id_col, "ev", "cluster")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def seed_vectors(
    emb: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The `n` lowest-id vectors as driver-side lists — the shared
    sample-quantizer seed collect (r12): ivf_centroids_seeded and
    pq_codebooks_seeded both TakeOrdered the same lowest-id rows, so a
    report building both indexes collects max(n) once and slices."""
    rows = (
        emb.select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(n)
        .collect()
    )
    return [list(r.v) for r in rows]


def ivf_centroids_seeded(
    emb: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[list[float]] | None = None,
) -> list[list[float]]:
    """Deterministic coarse quantizer: the n_clusters lowest-id vectors
    serve as centroids (a random-sample quantizer — the standard cheap
    alternative to k-means training, and SQL-reproducible so the IVF query
    can be oracle-checked). Build-time driver action: k × dim floats.
    `seeds`: a pre-collected seed_vectors(emb, >= n_clusters) list to
    slice instead of running this builder's own TakeOrdered collect."""
    if seeds is not None:
        return [list(v) for v in seeds[:n_clusters]]
    return seed_vectors(emb, n_clusters, id_col, vec_col)


def _centroid_norm(c: list[float]) -> float:
    import math

    return math.sqrt(sum(x * x for x in c)) or 1.0


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index BUILD: assign each vector to its nearest centroid (max cosine,
    tie -> lowest cid). Centroids are driver-side literals, so this is a
    pure zero-shuffle projection (argmax over per-centroid structs, the
    same shape as detect's family argmax); norm(ev) is a shared positive
    factor and drops out of the argmax, so only dot/|c| is computed per
    centroid. At 100 TB: write the result bucketed by `cluster` — that
    materialized layout IS the inverted file."""
    ev = as_double_array(vec_col)
    # constant construction cost (r12): one folded 2-D centroid literal
    # + a parallel norm literal, argmax via transform-with-index — the
    # unrolled per-centroid Python loop cost ~30 py4j round-trips per
    # centroid (semantic_dedup derives n_clusters = ceil(sqrt(N)) and
    # was spending most of its 6 s construction here). Bit-identical:
    # same zip_with/aggregate dot fold, same norm doubles (dlit repr
    # round-trip), same (s, neg_cid) argmax tie-break.
    cn = dlit([_centroid_norm(c) for c in centroids])
    best = F.array_max(
        F.transform(
            dlit2(centroids),
            lambda c, i: F.struct(
                (
                    _dot(ev, c) / F.element_at(cn, i + F.lit(1))
                ).alias("s"),
                (-i).alias("neg_cid"),
            ),
        )
    )
    return emb.select(
        F.col(id_col),
        ev.alias("ev"),
        (-best["neg_cid"]).cast("int").alias("cluster"),
    )


def ivf_probe(
    assigned: DataFrame,
    query_vec_id: int,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Query-time IVF probe: exact cosine only within the `nprobe` centroid
    cells nearest to the query. Fully declarative — the query vector and
    the probed cell ids are DataFrames broadcast into the candidate join,
    no driver-side .first()/.collect() in the query path.

    Complements lsh_topk: IVF adapts cell boundaries to the data
    distribution, LSH is data-independent. Both reduce the probe from
    O(N) to O(N · nprobe / n_clusters) expected."""
    spark = assigned.sparkSession
    cdf = spark.createDataFrame(
        [(cid, c, _centroid_norm(c)) for cid, c in enumerate(centroids)],
        "cid INT, cv ARRAY<DOUBLE>, cn DOUBLE",
    )
    qrow = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col("ev").alias("qv")
    )
    probe = (
        cdf.crossJoin(F.broadcast(qrow))
        .select(
            "cid",
            (_dot(F.col("qv"), F.col("cv")) / F.col("cn")).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("cid"))
        .limit(nprobe)
        .select("cid")
    )
    cands = assigned.join(
        F.broadcast(probe), F.col("cluster") == F.col("cid")
    ).crossJoin(F.broadcast(qrow))
    sim = _dot(F.col("ev"), F.col("qv")) / (
        _norm(F.col("ev")) * _norm(F.col("qv"))
    )
    return (
        cands.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_append_report(
    base: DataFrame,
    new: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance: assign a NEW embedding batch
    to the EXISTING index's centroids (trained on `base` only — the
    quantizer is never retrained on append, exactly how a production
    IVF index ingests) and report per-cell growth and balance:
      (cluster, old_size, added, new_size, share_ppm)
    share_ppm = new_size·1e6 DIV total (BIGINT) — the cell-balance
    number an operator watches to decide when drift has skewed the
    cells enough to retrain the quantizer (the 100 TB failure mode of
    frozen coarse quantizers: one hot cell absorbs the new
    distribution and probe latency collapses onto it).

    Plan shape: both assignments are zero-shuffle argmax projections
    (centroids are driver-side literals); the report aggregates to
    ≤ n_clusters rows before the full-outer join — everything after
    the two scans is k-row work. The appended batch lands in the same
    `cluster=<cid>/` layout via ivf_index_write(mode='append')."""
    cents = ivf_centroids_seeded(base, n_clusters, id_col, vec_col)
    old_c = (
        ivf_assign(base, cents, id_col, vec_col)
        .groupBy("cluster")
        .agg(F.count("*").cast("bigint").alias("old_size"))
    )
    new_c = (
        ivf_assign(new, cents, id_col, vec_col)
        .groupBy("cluster")
        .agg(F.count("*").cast("bigint").alias("added"))
    )
    merged = (
        old_c.join(new_c, "cluster", "full")
        .select(
            "cluster",
            F.coalesce("old_size", F.lit(0)).alias("old_size"),
            F.coalesce("added", F.lit(0)).alias("added"),
        )
        .withColumn("new_size", F.col("old_size") + F.col("added"))
    )
    w = Window.partitionBy()
    return merged.select(
        "cluster",
        "old_size",
        "added",
        "new_size",
        F.expr("new_size * 1000000").cast("bigint").alias("_num"),
        F.sum("new_size").over(w).cast("bigint").alias("_tot"),
    ).select(
        "cluster",
        "old_size",
        "added",
        "new_size",
        F.expr("_num DIV _tot").cast("bigint").alias("share_ppm"),
    )


def ivf_index_write(
    assigned: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Materialize the inverted file: the assigned vectors land in one
    parquet DIRECTORY PER CLUSTER (`cluster=<cid>/`). This layout is the
    index — a probe that joins on `cluster` triggers Spark's dynamic
    partition pruning, so only the `nprobe` probed directories are read
    (verified in tests: the scan's plan carries `PartitionFilters:
    [... dynamicpruning ...]`). At 100 TB with n_clusters sized so each
    cell is a few GB, a top-k probe touches nprobe cells instead of the
    full corpus."""
    assigned.write.partitionBy("cluster").mode(mode).parquet(path)


def ivf_index_read(spark, path: str) -> DataFrame:
    """Open a materialized inverted file for `ivf_probe`. The partition
    column `cluster` comes back from the directory names (int)."""
    return spark.read.parquet(path).withColumn(
        "cluster", F.col("cluster").cast("int")
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    quantizer: str = "kmeans",
) -> DataFrame:
    """Convenience build+probe in one call (tests / ad-hoc use). Production
    splits these: build once (ivf_index_kmeans or ivf_centroids_seeded +
    ivf_assign, persisted bucketed by cluster), probe many (ivf_probe)."""
    if quantizer == "kmeans":
        assigned, centroids = ivf_index_kmeans(
            emb, n_clusters, id_col, vec_col, seed
        )
    else:
        centroids = ivf_centroids_seeded(emb, n_clusters, id_col, vec_col)
        assigned = ivf_assign(emb, centroids, id_col, vec_col)
    return ivf_probe(assigned, query_vec_id, centroids, k, nprobe, id_col)


def derived_n_clusters(n_rows: int) -> int:
    """k ≈ ⌈√N⌉ — the regime where Σ cluster² ≈ N^1.5 / ... stays linear
    in N per cluster (SemDeDup itself runs k in the thousands at web
    scale). Integer-exact ceil so Spark and the SQL oracle agree."""
    import math

    if n_rows <= 1:
        return 1
    r = math.isqrt(n_rows)
    return r if r * r == n_rows else r + 1


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    with the coarse quantizer, compare pairs only WITHIN a cluster, drop
    any vector whose cosine to a lower-id cluster-mate reaches the
    threshold. Output: (id, cluster, max_prior_sim, keep) for every
    vector — `max_prior_sim` is the best cosine to a lower-id member of
    the same cluster (0.0 when alone), `keep` = it stays in the corpus.

    Scale shape: assignment is a zero-shuffle projection against literal
    centroids (ivf_assign); the pair stage is an equi-join on `cluster`,
    Σ cluster² work. When n_clusters is None it is DERIVED as ⌈√N⌉ from
    a corpus count (one cheap aggregate), so the pair join scales
    ~N^1.5 instead of silently degenerating toward all-pairs at a
    constant k. `max_cluster_size` additionally hash-splits any cluster
    above the cap into ⌈pop/cap⌉ sub-buckets before pairing (the
    frequency_capped_explode hedge for a skewed quantizer): bounded
    Σ bucket² at a documented recall cost — near-dups split across
    sub-buckets of the same hot cluster are not compared. Deterministic:
    seeded quantizer, min-id retention, xxhash64 sub-bucketing,
    6dp-rounded sims."""
    if n_clusters is None:
        n_clusters = derived_n_clusters(emb.count())
    centroids = ivf_centroids_seeded(emb, n_clusters, id_col, vec_col)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    key = ["cluster"]
    if max_cluster_size is not None:
        pops = assigned.groupBy("cluster").agg(F.count("*").alias("_pop"))
        assigned = assigned.join(pops, "cluster").withColumn(
            "_sub",
            F.when(
                F.col("_pop") > max_cluster_size,
                F.pmod(
                    F.xxhash64(F.col(id_col)),
                    F.ceil(F.col("_pop") / F.lit(max_cluster_size)),
                ),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ).drop("_pop")
        key = ["cluster", "_sub"]
    assigned = assigned.persist()
    a = assigned.select(
        *key, F.col(id_col).alias("id_a"), F.col("ev").alias("va")
    )
    b = assigned.select(
        *key, F.col(id_col).alias("id_b"), F.col("ev").alias("vb")
    )
    sim = _dot(F.col("va"), F.col("vb")) / (
        _norm(F.col("va")) * _norm(F.col("vb"))
    )
    prior = (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", F.round(sim, 6).alias("s"))
        .groupBy("id_b")
        .agg(F.max("s").alias("max_prior_sim"))
    )
    return (
        assigned.join(
            prior, assigned[id_col] == prior["id_b"], "left"
        )
        .select(
            F.col(id_col),
            "cluster",
            F.round(F.coalesce("max_prior_sim", F.lit(0.0)), 6).alias(
                "max_prior_sim"
            ),
            (F.coalesce("max_prior_sim", F.lit(0.0)) < threshold).alias(
                "keep"
            ),
        )
    )


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    n_bands: int = 4,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
    target_occupancy: int = 32,
    bucket_window: int | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor graph over EVERY vector — the
    all-documents analogue of lsh_topk (one query) and the input relation
    for graph-based semantic dedup / clustering.

    Multi-band LSH recall: `n_bands` independent signature tables (seeded
    hyperplane sets, seed+band offset); a pair is a candidate when it
    collides in ANY band. Candidates are (src, dst)-deduped, verified with
    exact cosine, and each source keeps its top-k by (cosine desc, dst
    asc) — a deterministic total order.

    Output: (src, dst, rank, cosine_sim), rank 1..k; both directions of
    each collision are ranked (the graph is directed; A's top-k may keep
    B while B's drops A).

    Plan shape at scale:
    - Vectors ride the band explode ONCE (n_bands × N rows through the
      (band, bucket) shuffle) and every candidate pair is scored
      BUCKET-LOCALLY in the self-join output; from that point on the
      relation is narrow (src, dst, cosine_sim ≈ 24 B/row) through the
      cross-band distinct and the top-k window. The r8 shape joined
      narrow candidates back against the vector table twice, which
      re-shuffled the PAIR relation carrying a full vector per row —
      measured at 100× (200k vectors, ~15M candidates) that wide pair
      shuffle dominated the wall; bucket-local scoring removed it
      (100.6 s → 55 s class, SCALE.md r9 row). A pair colliding in
      multiple bands is scored once per band and deduped after — flops
      are cheap, pair-relation bytes are not.
    - Σ bucket² within-band pair expansion, distinct-deduped across bands
      (cosine_sim is a pure function of the pair, so the 3-column
      distinct equals a pair distinct).
    - Per-source top-k is one window over the narrow scored set,
      partitioned by src — never a global sort.
    - An SQ8-quantized verify prefilter was built and MEASURED OUT (r9):
      scoring candidates on 1-byte codes before a float rerank added an
      extra window plus joins whose approx-score arrays were nearly as
      wide as the vectors themselves — 160 s vs 100.6 s unfiltered at
      100×, hash-identical output. With occupancy-policy plane counts
      the per-source candidate set is already small (~100); quantized
      verify only pays when the exact leg is far wider than the codes
      (e.g. 768-dim), not at dim 64.
    - At 100 TB, write `sigs` bucketed by (band, bucket) once and reuse it
      across queries (same layout trick as the IVF inverted file).
    - `planes_per_band` MUST grow ~log2(N) with corpus size: expected
      bucket occupancy is N / 2^planes, and in-bucket pair expansion is
      quadratic in occupancy — measured in SCALE.md's 100× sweep, a
      fixed 6 planes at 200k vectors exhausted 80 GB of shuffle disk,
      while log-scaled planes completed in 182 s. The default
      `planes_per_band=None` derives ceil(log2(N / target_occupancy))
      from a corpus count (one cheap metadata-backed count on parquet
      sources) so an un-parameterized caller gets the measured-safe
      configuration; gate queries pass explicit literals to skip the
      count and keep their evidence hashes stable.
    - The plane policy holds AVERAGE occupancy; it cannot hold the TAIL
      on clustered data. A tight topic cluster lands on the same side
      of most hyperplanes (the per-point noise is small against the
      center's margin), so the whole cluster shares a handful of
      buckets regardless of plane count — measured on the r11 skew
      fixture (power-law cluster sizes, top cluster 21% of 200k
      vectors): 13 policy planes = 8192 nominal buckets, yet max
      occupancy 12,806 and 262M in-bucket pairs PER BAND (~80× the
      balanced fixture); mean-centering before hashing does not help
      (16,742 max — the cluster is tight around its own center, not
      the origin). `bucket_window=W` is the bounded-cost mode for such
      corpora: within each (band, bucket), points are ordered by one
      extra seeded random projection (a 1-D locality order, the
      SortingLSH idea — near neighbors project near) and a pair is
      expanded only when the two in-bucket positions differ by ≤ W, so
      pair work is ≤ 2W per row (linear) instead of occupancy². When
      every bucket holds ≤ W+1 points the output is IDENTICAL to the
      unbounded join, so balanced corpora pay only the extra window;
      on hot buckets the miss risk is concentrated among same-cluster
      near-ties, exactly the pairs a dedup/graph consumer cares least
      about ranking exactly. Default None preserves the historical
      unbounded shape (gate hashes stable).
    """
    if planes_per_band is None:
        planes_per_band = derive_n_planes(emb, target_occupancy)
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    from pyspark.sql import Window

    base = emb.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).select("_id", "_v", _norm(F.col("_v")).alias("_nv"))
    band_sigs = []
    for b in range(n_bands):
        planes = random_hyperplanes(dim, planes_per_band, seed=seed + b)
        band_sigs.append(
            F.struct(
                F.lit(b).alias("band"),
                rhp_signature(F.col("_v"), planes).alias("bucket"),
            )
        )
    keyed = base.select(
        "_id", "_v", "_nv", F.explode(F.array(*band_sigs)).alias("bb")
    ).select(
        "_id",
        "_v",
        "_nv",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    if bucket_window is not None:
        # SortingLSH bounded mode: order each bucket by one extra seeded
        # projection (geometric 1-D locality — near neighbors project
        # near), then pair each point with its `bucket_window`
        # SUCCESSORS via a rowsBetween(1, W) frame. STRUCTURAL bound: a
        # join on (band, bucket) with a |Δpos| <= W post-filter would
        # still ENUMERATE occupancy² matched rows inside the join before
        # filtering — the frame never materializes more than W neighbor
        # structs per row, so hot-bucket pair work is N·W, not Σocc².
        # Each unordered pair is produced once (successors only) and
        # scored in the same projection while both vectors are
        # co-located; both graph directions are emitted from the NARROW
        # scored relation (cosine is symmetric). The window's
        # (band, bucket) partitioning is the same clustering the
        # unbounded self-join uses — one corpus-sized exchange either
        # way.
        from pyspark.sql import Window as _W

        order_plane = random_hyperplanes(dim, 1, seed=seed + 9973)[0]
        proj = F.aggregate(
            F.zip_with(F.col("_v"), dlit(order_plane), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        # quantized sort key (r12, ADVICE): floor(proj·1e9 + 0.5) — the
        # repo's portable half-up — so an order projection that rounds
        # differently in the last ulp across engines cannot reorder the
        # bucket (a reorder changes which pairs fall inside the window);
        # near-ties collapse to EQUAL keys and fall back to the vec_id
        # tiebreak deterministically on both sides. floor is monotone,
        # so non-tied order is unchanged.
        qproj = F.floor(proj * F.lit(1e9) + F.lit(0.5))
        frame = (
            _W.partitionBy("band", "bucket")
            .orderBy(qproj.asc(), F.col("_id").asc())
            .rowsBetween(1, int(bucket_window))
        )
        nbrs = F.collect_list(
            F.struct(
                F.col("_id").alias("nid"),
                F.col("_v").alias("nv"),
                F.col("_nv").alias("nn"),
            )
        ).over(frame)
        half_sim = _dot(F.col("_v"), F.col("nb.nv")) / (
            F.col("_nv") * F.col("nb.nn")
        )
        halves = (
            keyed.withColumn("_nb", nbrs)
            .select("_id", "_v", "_nv", F.explode("_nb").alias("nb"))
            .select(
                F.col("_id").alias("src"),
                F.col("nb.nid").alias("dst"),
                F.round(half_sim, 6).alias("cosine_sim"),
            )
        )
        p = F.col("p")
        scored = halves.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src"), F.col("dst"), F.col("cosine_sim")
                    ),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("cosine_sim"),
                    ),
                )
            ).alias("p")
        ).select(
            p["src"].alias("src"),
            p["dst"].alias("dst"),
            p["cosine_sim"].alias("cosine_sim"),
        ).distinct()
    else:
        # bucket-local scoring: the exact cosine is computed inside the
        # (band, bucket) self-join output while both vectors are
        # co-located, so only n_bands × N wide rows ever shuffle; the
        # pair relation is narrow (src, dst, cosine_sim) from here on.
        # cosine_sim is a pure function of the pair, so the 3-column
        # distinct dedupes cross-band collisions exactly.
        sim = _dot(F.col("a._v"), F.col("b._v")) / (
            F.col("a._nv") * F.col("b._nv")
        )
        scored = (
            keyed.alias("a")
            .join(
                keyed.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") != F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("src"),
                F.col("b._id").alias("dst"),
                F.round(sim, 6).alias("cosine_sim"),
            )
            .distinct()
        )
    w = Window.partitionBy("src").orderBy(
        F.desc("cosine_sim"), F.asc("dst")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "rank", "cosine_sim")
    )


def pq_codebooks_seeded(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the vector space is
    split into `m` subspaces of dim/m dims; each subspace's `k` centroids
    are the corresponding slices of the k lowest-id vectors (the same
    sample-quantizer convention as ivf_centroids_seeded — cheap,
    SQL-reproducible; swap in per-subspace k-means offline for recall).
    Returns codebooks[sub][centroid] = list of dim/m floats.
    `seeds`: a pre-collected seed_vectors(emb, >= k) list to slice
    instead of running this builder's own TakeOrdered collect."""
    if dim % m != 0:
        raise ValueError("dim must divide into m subspaces")
    d = dim // m
    vs = (
        [list(v) for v in seeds[:k]]
        if seeds is not None
        else seed_vectors(emb, k, id_col, vec_col)
    )
    return [
        [list(v[s * d : (s + 1) * d]) for v in vs] for s in range(m)
    ]


def _sub_l2_sql(sub_sql: str) -> str:
    """SQL text of the squared L2 between a subvector expression and a
    codebook lambda variable `cb`: zip_with + aggregate, the loop lives
    inside the HOF evaluator. Summation order is element order,
    identical to an unrolled t1+t2+... chain (and 0.0 + t == t exactly
    for the non-negative squared terms).

    TEXT, not Column (r13, guide §1.2 step 2): the DSL form of the PQ
    projections cost ~2400 py4j round-trips per pq_rerank construction
    (each HOF lambda is a chain of per-operator calls; measured
    ~3.9 s/build under the default call-site capture, ~1.9 s with it
    off) — composing the WHOLE per-subspace expression as one parsed
    string makes construction a single round-trip per subspace.
    Parsed and DSL forms analyze to the SAME Catalyst expression
    (pinned by test_pq_sql_text_equals_dsl_construction via
    sameResult + collect equality), so results are bit-identical."""
    return (
        f"aggregate(zip_with({sub_sql}, cb, (x, y) -> (x - y) * (x - y))"
        ", 0.0D, (acc, t) -> acc + t)"
    )


def _argmin_code_sql(sub_sql: str, centroids: list[list[float]]) -> str:
    """SQL text of one subspace's nearest-centroid index: (dist, idx)
    structs over the folded codebook literal, array_min, ties to the
    LOWEST index — the exact parsed twin of the previous DSL
    transform/struct/array_min chain."""
    return (
        f"array_min(transform({_dlit2_sql(centroids)}, (cb, i) -> "
        f"struct(round({_sub_l2_sql(sub_sql)}, 9) AS dist, i AS idx)"
        ")).idx"
    )


def _dist_table_sql(sub_sql: str, centroids: list[list[float]]) -> str:
    """SQL text of one subspace's per-centroid squared distances (ADC
    table row) — the parsed twin of the previous DSL transform chain."""
    return (
        f"transform({_dlit2_sql(centroids)}, cb -> "
        f"round({_sub_l2_sql(sub_sql)}, 9))"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..code_{m-1}): each subvector's nearest-centroid index
    (squared-L2 argmin, ties to the LOWEST index — deterministic).

    Pure projection: per subspace, ONE constant-folded codebook literal
    and a transform/aggregate argmin whose loops run inside the HOF
    evaluator — no shuffle, no Python, and small enough generated code
    to stay inside whole-stage codegen (see _codebook_lit). The encoded
    relation is m bytes/vector and is what a 100 TB ANN corpus actually
    stores (the float vectors stay in cold storage for optional exact
    re-ranking)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    v = as_double_array(vec_col)
    base = emb.select(F.col(id_col), v.alias("_v"))
    # argmin over k centroids: array of structs (dist, idx) →
    # array_min; ties break to the LOWEST index, deterministic. One
    # parsed string per subspace (r13, see _sub_l2_sql) — the codebook
    # literal stays ONE folded constant, which keeps the generated code
    # inside whole-stage codegen (the unrolled per-centroid expression
    # form blew past the JVM method-size limit: 13.6s → 1.3s at sf0.1
    # when folded + HOF-looped, r12 _codebook_lit finding).
    cols = [
        F.expr(
            _argmin_code_sql(f"slice(_v, {s * d + 1}, {d})", codebooks[s])
        ).alias(f"code_{s}")
        for s in range(m)
    ]
    return base.select(F.col(id_col), *cols)


def pq_topk(
    emb: DataFrame,
    query_vec_id: int,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: (id, adc_dist) for the k closest
    vectors to the query under PQ — distance ≈ Σ_s ||q_s − c[s][code_s]||².

    The 8×16 lookup table is tiny m·k arithmetic on the broadcast query
    row; each corpus row does m table lookups on its byte codes (already
    encoded relation via `codes`, or encoded on the fly). Exact twin for
    verification: cosine_topk; accuracy depends on the codebooks, so the
    pinned invariant is determinism + self-match (the query's own code
    distance is the minimum possible for its row)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    enc = codes if codes is not None else pq_encode(
        emb, codebooks, id_col, vec_col
    )
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        as_double_array(vec_col).alias("qv")
    )
    # distance table: per subspace, transform over the constant-folded
    # codebook literal against the query's subvector (1-row relation).
    # One parsed string per subspace, and the m-term ADC sum as one
    # parsed left-associative chain (r13, see _sub_l2_sql) — identical
    # expressions to the previous DSL loops at a fraction of the py4j
    # construction cost.
    tables = [
        F.expr(
            _dist_table_sql(f"slice(qv, {s * d + 1}, {d})", codebooks[s])
        ).alias(f"t_{s}")
        for s in range(m)
    ]
    qt = q.select(*tables)
    joined = enc.crossJoin(F.broadcast(qt))
    dist = F.expr(
        " + ".join(
            f"element_at(t_{s}, code_{s} + 1)" for s in range(m)
        )
    )
    return (
        joined.select(
            F.col(id_col), F.round(dist, 6).alias("adc_dist")
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def pq_rerank_topk(
    emb: DataFrame,
    query_vec_id: int,
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval, the production ANN shape: PQ ADC shortlist
    (cheap, code-only scan) → exact cosine re-rank of the `shortlist`
    survivors against the full vectors (touched via a candidate-bounded
    semi-join — the float vectors are read for ~shortlist rows, not the
    corpus). Output matches cosine_topk's schema/rounding, so recall is
    directly measurable against the exact baseline."""
    short = pq_topk(
        emb, query_vec_id, codebooks, shortlist, id_col, vec_col, codes
    ).select(id_col)
    cand = emb.join(short, id_col, "left_semi")
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        as_double_array(vec_col).alias("qv")
    )
    q = q.select("qv", _norm(F.col("qv")).alias("qn"))
    base = cand.select(
        F.col(id_col), as_double_array(vec_col).alias("ev")
    ).crossJoin(F.broadcast(q))
    sim = _dot(F.col("ev"), F.col("qv")) / (
        _norm(F.col("ev")) * F.col("qn")
    )
    return (
        base.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def sq8_params(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """1-row (mns, mxs, rgs ARRAY<DOUBLE>): per-dimension min / max /
    range for SQ8 scalar quantization — order-independent exact
    reductions (min/max), collected dim-ordered. The training-free
    quantizer: at 100 TB these params come from one O(dim·tasks)
    aggregate, or from the maintained dim-stats table."""
    long = emb.select(
        F.posexplode(as_double_array(vec_col)).alias("dim", "v")
    )
    per_dim = long.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("dim", "mn", "mx"))
    )
    return per_dim.agg(sorted_structs.alias("_l")).select(
        F.transform(F.col("_l"), lambda x: x["mn"]).alias("mns"),
        F.transform(F.col("_l"), lambda x: x["mx"]).alias("mxs"),
        F.transform(
            F.col("_l"), lambda x: x["mx"] - x["mn"]
        ).alias("rgs"),
    )


def sq8_encode(
    emb: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes ARRAY<INT>): SQ8 codes — code_i = floor((v_i − mn_i)
    · 255 / rg_i + 0.5), degenerate (rg = 0) dims code to 0. floor(x +
    0.5) is the PORTABLE half-up (an engine round() on an arbitrary
    double is not — DETERMINISM.md mode 2); 4 bytes/dim becomes 1, the
    relation a 100 TB ANN scan actually reads."""
    j = emb.crossJoin(F.broadcast(params))
    shifted = F.zip_with(
        as_double_array(vec_col), F.col("mns"), lambda v, mn: v - mn
    )
    codes = F.zip_with(
        shifted,
        F.col("rgs"),
        lambda t, rg: F.when(
            rg > 0, F.floor(t * 255.0 / rg + 0.5).cast("int")
        ).otherwise(F.lit(0)),
    )
    return j.select(F.col(id_col), codes.alias("codes"))


def sq8_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    params: DataFrame | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """(id, approx_dot) for the k best approximate dot products under
    SQ8 — the scalar-quantization leg of the ANN family (between
    brute-force float and PQ in the accuracy/size tradeoff).

    dot(q, decode(c)) = Σ q_i·mn_i + Σ (q_i·rg_i/255)·code_i: the first
    term is a per-query scalar, the second an in-row left fold over the
    code array against the broadcast per-query scale array — zero
    shuffle beyond the top-k, and the float additions run in FIXED
    array order, so the SQL twin (list_reduce left fold) reproduces the
    sums bit for bit.

    `params` / `enc` inject a pre-built quantizer relation and code
    relation (the dedup `shingles=` convention): a caller evaluating
    several SQ8 consumers — ann_recall_report runs three — builds and
    persists the index ONCE instead of re-encoding the corpus per
    method, which is also the 100 TB shape (codes are a persisted
    index, not a per-query projection)."""
    if params is None:
        params = sq8_params(emb, vec_col)
    if enc is None:
        enc = sq8_encode(emb, params, id_col, vec_col)
    q = (
        emb.filter(F.col(id_col) == query_vec_id)
        .crossJoin(F.broadcast(params))
        .select(
            F.aggregate(
                F.zip_with(
                    as_double_array(vec_col),
                    F.col("mns"),
                    lambda qv, mn: qv * mn,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("qconst"),
            F.zip_with(
                as_double_array(vec_col),
                F.col("rgs"),
                lambda qv, rg: qv * rg / 255.0,
            ).alias("qscale"),
        )
    )
    # the query row itself stays in (family convention: cosine_topk /
    # pq_topk keep it; the self row scoring at/near the top is also the
    # built-in sanity check of the quantizer)
    joined = enc.crossJoin(F.broadcast(q))
    score = F.col("qconst") + F.aggregate(
        F.zip_with(
            F.col("qscale"),
            F.col("codes"),
            lambda s, c: s * c.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        joined.select(
            F.col(id_col), F.round(score, 6).alias("approx_dot")
        )
        .orderBy(F.desc("approx_dot"), F.asc(id_col))
        .limit(k)
    )


def sq8_rerank_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    params: DataFrame | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """Two-stage SQ8 retrieval: 1-byte-code shortlist → exact cosine
    re-rank of the survivors against the full float vectors (candidate-
    bounded semi-join — same production shape as pq_rerank_topk, with
    the scalar quantizer as the cheap stage). Output matches
    cosine_topk's schema/rounding, so recall is directly measurable.
    `params`/`enc` inject a shared pre-built index (sq8_topk)."""
    short = sq8_topk(
        emb, query_vec_id, shortlist, id_col, vec_col, params, enc
    ).select(id_col)
    cand = emb.join(short, id_col, "left_semi")
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        as_double_array(vec_col).alias("qv")
    )
    q = q.select("qv", _norm(F.col("qv")).alias("qn"))
    base = cand.select(
        F.col(id_col), as_double_array(vec_col).alias("ev")
    ).crossJoin(F.broadcast(q))
    sim = _dot(F.col("ev"), F.col("qv")) / (
        _norm(F.col("ev")) * F.col("qn")
    )
    return (
        base.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_sq8_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
    assigned: DataFrame | None = None,
    params: DataFrame | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """IVF + SQ8 hybrid — the production inverted-file shape: the coarse
    quantizer bounds candidates to the `nprobe` nearest cells, and the
    candidate scan reads 1-byte SQ8 codes instead of float vectors
    (at 100 TB the float relation is only ever touched by index build
    and re-rank; the probe path is cells → byte codes → top-k).
    Seeded-sample quantizer so the whole index build is reproducible in
    the SQL twin. Emits (id, approx_dot). `centroids`/`assigned`/
    `params`/`enc` inject shared pre-built index relations (the
    sq8_topk convention) — ann_recall_report builds each once for all
    eight methods."""
    if centroids is None:
        centroids = ivf_centroids_seeded(emb, n_clusters, id_col, vec_col)
    if assigned is None:
        assigned = ivf_assign(emb, centroids, id_col, vec_col)
    if params is None:
        params = sq8_params(emb, vec_col)
    if enc is None:
        enc = sq8_encode(emb, params, id_col, vec_col)
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, c, _centroid_norm(c)) for cid, c in enumerate(centroids)],
        "cid INT, cv ARRAY<DOUBLE>, cn DOUBLE",
    )
    qrow = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col("ev").alias("qv")
    )
    probe = (
        cdf.crossJoin(F.broadcast(qrow))
        .select(
            "cid",
            (_dot(F.col("qv"), F.col("cv")) / F.col("cn")).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("cid"))
        .limit(nprobe)
        .select("cid")
    )
    cand_ids = assigned.join(
        F.broadcast(probe), F.col("cluster") == F.col("cid")
    ).select(id_col)
    q = qrow.crossJoin(F.broadcast(params)).select(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("mns"), lambda qv, mn: qv * mn),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("qconst"),
        F.zip_with(
            F.col("qv"), F.col("rgs"), lambda qv, rg: qv * rg / 255.0
        ).alias("qscale"),
    )
    joined = (
        enc.join(cand_ids, id_col, "left_semi")
        .crossJoin(F.broadcast(q))
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
    return (
        joined.select(
            F.col(id_col), F.round(score, 6).alias("approx_dot")
        )
        .orderBy(F.desc("approx_dot"), F.asc(id_col))
        .limit(k)
    )


def ann_recall_report(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    sample_n: int | None = None,
) -> DataFrame:
    """(method, k_returned, n_hits, recall_at_k): measured recall@k of
    every approximate retrieval path against the exact cosine top-k —
    the number a 100 TB operator actually reads when choosing nprobe /
    n_planes / shortlist. The r1-r4 gates certified each ANN query as
    LOSSLESS vs a SQL twin running the same approximation; this query
    makes retrieval QUALITY itself an oracle-checked output (the twin
    composes the same certified CTEs, so a hash match pins both engines
    to identical hit counts).

    Methods and parameters mirror the standing gate queries exactly
    (ann_lsh_topk .. ann_ivf_sq8 in __spark_entry__): LSH 6 planes,
    multiprobe radius 1, IVF 8 cells / 3 probes, PQ m=8 kc=16
    (shortlist 50 for rerank), SQ8 (shortlist 50 for rerank), IVF+SQ8.

    Shape: each method is a candidate-bounded mini-plan ending in a
    k-row TakeOrdered; the union carries 8·k id rows; the exact top-k
    (k rows) broadcasts into the hit-join. Nothing here scans the corpus
    more than the underlying methods already do; at scale the built
    indexes (IVF assignment, PQ/SQ8 codes) would be persisted relations
    shared across the methods instead of rebuilt per method.

    `sample_n` is the bounded calibration-sample mode (the 100 TB
    shape this docstring promised since r5): when set, the report runs
    over the query vector plus a deterministic hash-ordered sample of
    `sample_n - 1` other vectors (TakeOrdered by md5(id) — no full
    sort, no rand() drift), bounding the exact-truth leg while schema
    and semantics are unchanged. None (the default, and the gate
    configuration) keeps the full corpus.

    Cache lifecycle: the shared index relations are persist()ed and
    registered via persistence.track — they stay pinned after the
    report materializes so a session batch can reuse them. A long-lived
    caller (the MCP server, a notebook) must call
    persistence.release_all() between batches, exactly as the bench and
    gate harnesses do; otherwise repeated calls accumulate cached
    blocks."""
    if sample_n is not None:
        keep = emb.filter(F.col(id_col) == query_vec_id)
        rest = (
            emb.filter(F.col(id_col) != query_vec_id)
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(max(int(sample_n) - 1, 0))
        )
        emb = keep.unionByName(rest)
    exact = (
        cosine_topk(emb, query_vec_id, k, id_col, vec_col)
        .select(F.col(id_col), F.lit(1).alias("_hit"))
    )
    # shared persisted index relations (r7): each built ONCE for all
    # eight methods — previously the three SQ8 consumers each re-encoded
    # the corpus and ivf_sq8 re-ran the coarse assignment. Persisted and
    # track()ed like the dedup shingle relation; at 100 TB these ARE the
    # persisted index tables the probe paths scan.
    from model_audit_spark.persistence import track

    # ONE seed collect serves both sample quantizers (r12 — both
    # TakeOrdered the same lowest-id rows), and ONE persisted signature
    # relation serves both LSH probes (same 6 planes; previously each
    # probe re-signed the corpus).
    seeds = seed_vectors(emb, 16, id_col, vec_col)
    books = pq_codebooks_seeded(emb, m=8, k=16, dim=dim, seeds=seeds)
    centroids = ivf_centroids_seeded(emb, n_clusters=8, seeds=seeds)
    assigned = track(ivf_assign(emb, centroids).persist())
    sq_params = sq8_params(emb, vec_col)
    sq_enc = track(sq8_encode(emb, sq_params, id_col, vec_col).persist())
    pq_codes = track(pq_encode(emb, books, id_col, vec_col).persist())
    # fill the three independent index caches CONCURRENTLY (r13, guide
    # §2.6): inside the report's single action their fills serialize
    # behind whichever probe leg's stage wave reaches them first
    from model_audit_spark.persistence import fill_caches_concurrently

    fill_caches_concurrently(
        [assigned, sq_enc, pq_codes],
        labels=["ann_recall: ivf_assign", "ann_recall: sq8_encode",
                "ann_recall: pq_encode"],
    )
    # NOT shared: a persisted signature relation (measured r12 — the
    # cache fill serializes on the critical path and the query-row
    # lookup loses its pushed 1-row parquet filter; the inline
    # signature projection fuses into each probe's scan stage instead)
    methods = {
        "ivf": ivf_probe(
            assigned, query_vec_id, centroids, k=k, nprobe=3
        ),
        "ivf_sq8": ivf_sq8_topk(
            emb, query_vec_id, k=k, n_clusters=8, nprobe=3,
            centroids=centroids, assigned=assigned,
            params=sq_params, enc=sq_enc,
        ),
        "lsh": lsh_topk(emb, query_vec_id, k=k, n_planes=6, dim=dim),
        "lsh_multiprobe": lsh_multiprobe_topk(
            emb, query_vec_id, k=k, n_planes=6, probe_radius=1, dim=dim
        ),
        "pq": pq_topk(
            emb, query_vec_id, codebooks=books, k=k, codes=pq_codes
        ),
        "pq_rerank": pq_rerank_topk(
            emb, query_vec_id, codebooks=books, k=k, shortlist=50,
            codes=pq_codes,
        ),
        "sq8": sq8_topk(
            emb, query_vec_id, k=k, params=sq_params, enc=sq_enc
        ),
        "sq8_rerank": sq8_rerank_topk(
            emb, query_vec_id, k=k, shortlist=50,
            params=sq_params, enc=sq_enc,
        ),
    }
    parts = None
    for name in sorted(methods):
        p = methods[name].select(
            F.lit(name).alias("method"), F.col(id_col)
        )
        parts = p if parts is None else parts.unionByName(p)
    return (
        parts.join(F.broadcast(exact), id_col, "left")
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_returned"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "method",
            "k_returned",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("method")
    )


def ann_param_sweep(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    radii: tuple[int, ...] = (0, 1, 2),
    nprobes: tuple[int, ...] = (1, 2, 8),
    shortlists: tuple[int, ...] = (10, 50),
) -> DataFrame:
    """(method, param, k_returned, n_hits, recall_at_k): recall@k as a
    FUNCTION of each ANN family's tunable — the table an operator reads
    to pick multiprobe radius, IVF nprobe, and rerank shortlist at
    100 TB (ann_recall_report answers "how good is each method as
    configured"; this answers "how does quality buy cost"). Recall is
    non-decreasing along every parameter axis (pinned in tests:
    radius probes a superset of buckets, nprobe a superset of cells, a
    longer shortlist a superset of rerank candidates).

    Shared-index shape: the IVF assignment and PQ codebooks build ONCE
    and feed all their variants; each variant is a candidate-bounded
    mini-plan ending in a k-row TakeOrdered, so the sweep costs the
    per-variant probes, not repeated index builds. At scale assigned /
    codes are persisted index relations and the sweep is pure probe
    work. Cache lifecycle: the shared relations are persist()ed and
    persistence.track()ed — long-lived callers must call
    persistence.release_all() between batches (the harnesses do)."""
    exact = (
        cosine_topk(emb, query_vec_id, k, id_col, vec_col)
        .select(F.col(id_col), F.lit(1).alias("_hit"))
    )
    # shared persisted index relations (r7, the ann_recall_report
    # discipline): assigned feeds 3 nprobe variants, the SQ8 params/enc
    # both shortlist variants, the PQ codes both shortlist variants —
    # without the persist+injection each variant re-scans the corpus
    from model_audit_spark.persistence import track

    # ONE seed collect for both sample quantizers and ONE persisted
    # signature relation for every multiprobe radius (r12): the radii
    # differ only in the probe set, so re-signing the corpus per radius
    # was pure repeated work.
    seeds = seed_vectors(emb, 16, id_col, vec_col)
    centroids = ivf_centroids_seeded(emb, 8, id_col, vec_col, seeds=seeds)
    assigned = track(
        ivf_assign(emb, centroids, id_col, vec_col).persist()
    )
    books = pq_codebooks_seeded(emb, m=8, k=16, dim=dim, seeds=seeds)
    sq_params = sq8_params(emb, vec_col)
    sq_enc = track(sq8_encode(emb, sq_params, id_col, vec_col).persist())
    pq_codes = track(pq_encode(emb, books, id_col, vec_col).persist())
    # concurrent index-cache fills (r13, guide §2.6 — see
    # ann_recall_report)
    from model_audit_spark.persistence import fill_caches_concurrently

    fill_caches_concurrently(
        [assigned, sq_enc, pq_codes],
        labels=["ann_sweep: ivf_assign", "ann_sweep: sq8_encode",
                "ann_sweep: pq_encode"],
    )
    # NOT shared: a persisted signature relation across the radii
    # (measured r12 — see ann_recall_report; the inline projection per
    # radius is cheaper than the cache fill + cache-scan query row)
    variants: list[tuple[str, str, DataFrame]] = []
    for r in radii:
        variants.append(
            (
                "lsh_multiprobe",
                f"radius={r}",
                lsh_multiprobe_topk(
                    emb, query_vec_id, k=k, n_planes=6,
                    probe_radius=r, id_col=id_col, vec_col=vec_col,
                    dim=dim,
                ),
            )
        )
    for np_ in nprobes:
        variants.append(
            (
                "ivf",
                f"nprobe={np_}",
                ivf_probe(
                    assigned, query_vec_id, centroids, k=k,
                    nprobe=np_, id_col=id_col,
                ),
            )
        )
    for sl in shortlists:
        variants.append(
            (
                "sq8_rerank",
                f"shortlist={sl}",
                sq8_rerank_topk(
                    emb, query_vec_id, k=k, shortlist=sl,
                    id_col=id_col, vec_col=vec_col,
                    params=sq_params, enc=sq_enc,
                ),
            )
        )
    for sl in shortlists:
        variants.append(
            (
                "pq_rerank",
                f"shortlist={sl}",
                pq_rerank_topk(
                    emb, query_vec_id, codebooks=books, k=k,
                    shortlist=sl, id_col=id_col, vec_col=vec_col,
                    codes=pq_codes,
                ),
            )
        )
    parts = None
    for method, param, df in variants:
        p = df.select(
            F.lit(method).alias("method"),
            F.lit(param).alias("param"),
            F.col(id_col),
        )
        parts = p if parts is None else parts.unionByName(p)
    return (
        parts.join(F.broadcast(exact), id_col, "left")
        .groupBy("method", "param")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_returned"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "method",
            "param",
            "k_returned",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("method", "param")
    )


def ivf_sq8_index_write(
    emb: DataFrame,
    path: str,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize the production ANN index — IVF cells × SQ8 byte
    codes — as three parquet relations under `path`:

      codes/      (id, codes ARRAY<INT>) partitioned by cluster=<cid>/
                  — the ONLY relation a probe scans; the directory
                  layout IS the inverted file (a probe joining on
                  `cluster` triggers dynamic partition pruning, so
                  nprobe cells are read, not the corpus). Parquet's
                  dictionary/byte-pack encoding stores the 0-255 codes
                  at ~1 byte each at rest.
      params/     the 1-row SQ8 (mns, mxs, rgs) quantizer.
      centroids/  (cid, cv, cn) coarse quantizer rows.

    The float vectors are NOT in the index — at 100 TB they stay in the
    base table, touched only at build and re-rank (the probe path is
    cells → byte codes → top-k, 4x less IO than float scan even before
    pruning)."""
    centroids = ivf_centroids_seeded(emb, n_clusters, id_col, vec_col)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    params = sq8_params(emb, vec_col)
    enc = sq8_encode(emb, params, id_col, vec_col)
    rel = assigned.select(id_col, "cluster").join(enc, id_col)
    rel.write.partitionBy("cluster").mode(mode).parquet(f"{path}/codes")
    params.write.mode(mode).parquet(f"{path}/params")
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, c, _centroid_norm(c)) for cid, c in enumerate(centroids)],
        "cid INT, cv ARRAY<DOUBLE>, cn DOUBLE",
    )
    cdf.write.mode(mode).parquet(f"{path}/centroids")


def ivf_sq8_index_probe(
    spark,
    path: str,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF+SQ8 index: identical output to
    ivf_sq8_topk over the same corpus (equality pinned in tests), but
    every relation comes from the index on disk — the query never sees
    a float corpus vector. `query_vec` is a 1-row DataFrame with column
    `qv ARRAY<DOUBLE>` (the caller reads it from wherever query vectors
    live).

    Plan shape: centroids (n rows) cross the broadcast query row →
    nprobe cell ids → broadcast-joined into the codes scan, where the
    cluster=<cid>/ partitioning turns the join key into dynamic
    partition pruning (plan pin in tests) — the scan reads nprobe
    directories. Scoring is the same per-query scale-array fold as
    ivf_sq8_topk."""
    cdf = spark.read.parquet(f"{path}/centroids")
    params = spark.read.parquet(f"{path}/params")
    codes = spark.read.parquet(f"{path}/codes").withColumn(
        "cluster", F.col("cluster").cast("int")
    )
    probe = (
        cdf.crossJoin(F.broadcast(query_vec))
        .select(
            "cid",
            (_dot(F.col("qv"), F.col("cv")) / F.col("cn")).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("cid"))
        .limit(nprobe)
        .select("cid")
    )
    q = query_vec.crossJoin(F.broadcast(params)).select(
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
        F.broadcast(probe), F.col("cluster") == F.col("cid")
    ).crossJoin(F.broadcast(q))
    score = F.col("qconst") + F.aggregate(
        F.zip_with(
            F.col("qscale"),
            F.col("codes"),
            lambda s, c: s * c.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        joined.select(
            F.col(id_col), F.round(score, 6).alias("approx_dot")
        )
        .orderBy(F.desc("approx_dot"), F.asc(id_col))
        .limit(k)
    )


def ivf_sq8_index_probe_many(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    qid_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched probe of the persisted IVF+SQ8 index: `queries` is
    (query_id, qv ARRAY<DOUBLE>), output is (query_id, vec_id,
    approx_dot) — top-k per query, the retrieval-service shape (and the
    per-micro-batch kernel of streaming_ann_probe).

    Plan: queries × centroids (n_clusters rows, broadcast) → per-query
    nprobe cells via a (query_id)-partitioned rank; the (query_id, cid)
    cell list joins the codes scan on `cluster` — with a small query
    batch the broadcast join's cluster-key filter prunes the
    partitioned index directories; scoring folds each query's scale
    array over the candidate codes; final per-query top-k is a
    (query_id)-keyed window rank, shuffling only (query_id, id, score)
    candidate rows. Per-query results are IDENTICAL to the single-query
    ivf_sq8_index_probe (pinned in tests)."""
    cdf = spark.read.parquet(f"{path}/centroids")
    params = spark.read.parquet(f"{path}/params")
    codes = spark.read.parquet(f"{path}/codes").withColumn(
        "cluster", F.col("cluster").cast("int")
    )
    qid, vid = sql_ident(qid_col), sql_ident(id_col)
    scored_cells = queries.crossJoin(F.broadcast(cdf)).selectExpr(
        qid, "qv", "cid", f"{_dot_sql('qv', 'cv')} / cn AS s"
    )
    cells = (
        scored_cells.withColumn("_rn", F.expr(
            f"row_number() OVER (PARTITION BY {qid} "
            "ORDER BY s DESC NULLS LAST, cid ASC NULLS FIRST)"
        ))
        .filter(f"_rn <= {int(nprobe)}")
        .selectExpr(qid, "qv", "cid")
    )
    qprep = cells.crossJoin(F.broadcast(params)).selectExpr(
        qid,
        "cid",
        f"{_dot_sql('qv', 'mns')} AS qconst",
        "zip_with(qv, rgs, (q, r) -> q * r / 255.0D) AS qscale",
    )
    joined = codes.join(F.broadcast(qprep), F.expr("cluster = cid"))
    score = (
        "qconst + aggregate(zip_with(qscale, codes, "
        "(s, c) -> s * CAST(c AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )
    return (
        joined.selectExpr(qid, vid, f"round({score}, 6) AS approx_dot")
        .withColumn("_rk", F.expr(
            f"row_number() OVER (PARTITION BY {qid} "
            f"ORDER BY approx_dot DESC NULLS LAST, {vid} ASC NULLS FIRST)"
        ))
        .filter(f"_rk <= {int(k)}")
        .drop("_rk")
        .orderBy(qid_col, F.desc("approx_dot"), F.asc(id_col))
    )


# ---------------------------------------------------------------------------
# Integer-exact Lloyd k-means (iterative algorithm #3 after PageRank and
# BPE: every round is plain relational algebra on BIGINTs, so the whole
# chain unrolls as a SQL twin and the final clustering is hash-checked)

KMEANS_SHIFT = 1_000_000  # lifts micro-quantized components >= 0 so
#                           floor division == truncating division
#                           (DETERMINISM.md rule 5)


def quantize_micro(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, x6): components as micro-unit BIGINTs, shifted non-negative.

    floor(x·1e6 + 0.5) instead of round(): float→double widening and
    the ·1e6 product are IEEE-exact in both engines and floor has no
    half-way rule to disagree on (failure mode 2 avoided by
    construction). The common +SHIFT cancels in every distance."""
    x6 = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1e6 + 0.5).cast("long")
        + KMEANS_SHIFT,
    )
    return df.select(F.col(id_col), x6.alias("x6"))


def lloyd_kmeans(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "km",
) -> DataFrame:
    """Deterministic Lloyd iterations entirely in integer arithmetic:
    (id, cluster) after `iterations` rounds over micro-quantized
    vectors.

    - init: the k ids with the smallest (md5(id:salt), id) draws, in
      draw order — the same engine-portable seeded pick as
      ivf_centroids_seeded, but reproducible in SQL.
    - assignment: argmin of the exact squared distance
      Σ(x6−c6)² (BIGINT; ≤ ~5e12 per dim at |x|≤1.5e6 — 64 dims sum
      < 9.2e18), ties on the cluster index — quantization-free, so no
      last-ulp flip can move a vector (the PQ-encode hazard).
    - update: per-dim integer mean (Σx6 DIV n; operands non-negative
      by the SHIFT). A cluster that loses every vector disappears —
      identically in both engines.

    Each round is one LITERAL argmin projection (centroids are k·dim
    driver-side BIGINTs — the ivf_assign shape: collected once per
    round, a bounded report-sized collect, then constant-folded into
    the scoring expression) and one (cluster, dim)-keyed sum over the
    posexploded assignment (the only real shuffle, carrying
    (cluster, dim, partial sum)). The r1-r11 shape materialized a k-row
    centroid DataFrame per round (localCheckpoint + broadcast cross
    join) — at sf0.1 those per-round checkpoint/broadcast jobs were
    ~2/3 of the query's wall with 0.2 s of real work (profiled, r12);
    the collect+literal form does the same integer math on the same
    rows, and the final round's centroid update (never consumed — the
    output is the last ASSIGNMENT) is skipped outright. The SQL twin
    unrolls the same rounds as MATERIALIZED CTEs.
    """
    from model_audit_spark.persistence import pinned

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    q = quantize_micro(vectors, vec_col, id_col)
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"), F.lit(salt)
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    # pinned only, no iterate: the rounds carry centroids on the
    # driver, not a relation; inside the scope each per-round collect
    # is one job (persistence.lazy_checkpoint_scope)
    with pinned(q):
        init_rows = (
            q.withColumn("_draw", draw)
            .orderBy("_draw", id_col)
            .limit(k)
            .select("x6")
            .collect()
        )
        # [(cluster_id, [dim longs])] — cluster ids are draw-order
        # indexes, exactly the row_number() - 1 of the r11 shape
        cents: list[tuple[int, list[int]]] = [
            (i, list(r.x6)) for i, r in enumerate(init_rows)
        ]

        def _llit(vals: list[int]):
            # ARRAY<BIGINT> literal via one parsed SQL string (the dlit
            # rationale; L-suffix pins BIGINT)
            return F.expr(
                "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"
            )

        def _llit2(rows: list[list[int]]):
            # ARRAY<ARRAY<BIGINT>> literal, one parsed string (dlit2)
            return F.expr(
                "array("
                + ",".join(
                    "array(" + ",".join(f"{int(v)}L" for v in r) + ")"
                    for r in rows
                )
                + ")"
            )

        for it in range(iterations):
            # argmin via transform-with-index over ONE folded 2-D
            # literal (constant py4j cost per round — the unrolled
            # per-centroid struct loop cost ~25 py4j calls per centroid
            # per round); cluster ids ride a parallel BIGINT literal
            # because clusters can disappear (ids are not contiguous).
            # array_min compares (dist, cluster) values, not positions
            # — identical tie-break.
            cb = _llit2([c6 for _, c6 in cents])
            cids = _llit([cid for cid, _ in cents])
            entries = F.transform(
                cb,
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("x6"), c, lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    F.element_at(cids, i + F.lit(1)).alias("cluster"),
                ),
            )
            assign = q.select(
                F.col(id_col),
                F.array_min(entries).getField("cluster").alias("cluster"),
            )
            if it == iterations - 1:
                break
            sums = (
                assign.join(q, id_col)
                .select("cluster", F.posexplode("x6").alias("dim", "val"))
                .groupBy("cluster", "dim")
                .agg(
                    F.sum("val").alias("s"),
                    F.count("*").alias("n"),
                )
            )
            cent_rows = (
                sums.groupBy("cluster")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "dim", F.expr("s DIV n").alias("m")
                                )
                            )
                        ),
                        lambda t: t["m"],
                    ).alias("c6")
                )
                .orderBy("cluster")
                .collect()
            )
            cents = [(int(r.cluster), list(r.c6)) for r in cent_rows]
        return assign.localCheckpoint()


def kmeans_cluster_profile(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Gate-sized fingerprint of the full clustering: per final cluster
    the member count, the exact id sum, and the centroid checksum
    (Σ over dims of the integer mean)."""
    assign = lloyd_kmeans(vectors, k, iterations, vec_col, id_col)
    q = quantize_micro(vectors, vec_col, id_col)
    sums = (
        assign.join(q, id_col)
        .select(
            "cluster",
            F.col(id_col),
            F.posexplode("x6").alias("dim", "val"),
        )
        .groupBy("cluster", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    cent_sum = sums.groupBy("cluster").agg(
        F.sum(F.expr("s DIV n")).cast("bigint").alias("centroid_checksum")
    )
    members = assign.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum(id_col).cast("bigint").alias("id_sum"),
    )
    return members.join(cent_sum, "cluster").select(
        "cluster", "n_vectors", "id_sum", "centroid_checksum"
    )


def kmeans_cluster_quality(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Davies-Bouldin-style clustering quality, entirely in BIGINT
    arithmetic: per final cluster
      (cluster, n_vectors, scatter, db_ppk)
    where scatter = (Σ members' squared distance to the integer
    centroid) DIV n (the within-cluster spread) and
    db_ppk = max over other clusters j of
      (scatter_i + scatter_j) · 1000 DIV ‖c_i − c_j‖²
    — the Davies-Bouldin component in parts-per-thousand (high = this
    cluster bleeds into a neighbor; the number you read to pick k or
    to spot a degenerate cluster before sharding a 100 TB corpus by
    cluster id).

    Integer-exactness bounds (micro-quantized, |x6| ≤ ~3e6 per dim):
    per-member dist ≤ 64 · 9e12 ≈ 5.8e14; (s_i + s_j)·1000 ≤ ~1.2e18
    < 2^63 — every product stays in BIGINT, so the whole report
    hash-matches the unrolled SQL twin bit-for-bit. Pairs with
    ‖c_i − c_j‖² = 0 (coincident centroids — degenerate k) are
    excluded from the max; a cluster with no positive-distance peer
    emits NULL db_ppk.

    Plan shape at scale: centroids live in the (cluster, dim)-keyed
    relation (k·dim rows) — the member pass is one join + one
    aggregate over the posexploded assignment (the same shuffle the
    centroid update already does); the pairwise-centroid stage is
    k²·dim rows, driver-trivial at any corpus size."""
    assign = lloyd_kmeans(vectors, k, iterations, vec_col, id_col)
    q = quantize_micro(vectors, vec_col, id_col)
    memb = assign.join(q, id_col).select(
        "cluster", F.col(id_col), F.posexplode("x6").alias("dim", "val")
    )
    sums = memb.groupBy("cluster", "dim").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    cent = sums.select("cluster", "dim", F.expr("s DIV n").alias("c"))
    d2 = (
        memb.join(cent, ["cluster", "dim"])
        .groupBy("cluster", id_col)
        .agg(
            F.sum(
                (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
            ).alias("dist")
        )
    )
    scat = d2.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.expr("sum(dist) DIV count(*)").cast("bigint").alias("scatter"),
    )
    pair = (
        cent.alias("a")
        .join(
            cent.alias("b"),
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.cluster") != F.col("b.cluster")),
        )
        .groupBy(
            F.col("a.cluster").alias("ci"), F.col("b.cluster").alias("cj")
        )
        .agg(
            F.sum(
                (F.col("a.c") - F.col("b.c"))
                * (F.col("a.c") - F.col("b.c"))
            ).alias("m2")
        )
    )
    si = scat.select(F.col("cluster").alias("ci"), F.col("scatter").alias("s_i"))
    sj = scat.select(F.col("cluster").alias("cj"), F.col("scatter").alias("s_j"))
    db = (
        pair.filter(F.col("m2") > 0)
        .join(si, "ci")
        .join(sj, "cj")
        .groupBy("ci")
        .agg(
            F.max(F.expr("(s_i + s_j) * 1000 DIV m2"))
            .cast("bigint")
            .alias("db_ppk")
        )
        .withColumnRenamed("ci", "cluster")
    )
    return scat.join(db, "cluster", "left").select(
        "cluster", "n_vectors", "scatter", "db_ppk"
    )


def cluster_topics(
    assign: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    min_tf: int = 5,
) -> DataFrame:
    """Topic words per cluster by integer-exact class lift — the
    c-TF-IDF idea (what characterizes this cluster vs the corpus)
    without the log: lift = P(term|cluster)/P(term) evaluated as
    tf_tc·N·1e6 DIV (tf_t·T_c) in BIGINTs (collocations' machinery,
    lifted from pairs to classes). `assign` is any (id, cluster)
    relation — lloyd_kmeans output, dedup clusters, a label column.

    One tokenize+explode pass → (cluster, term) counts; term totals,
    class totals and the grand total are aggregates over that SAME
    (min_tf-pruned) relation — probabilities are defined over the
    qualifying-term universe, a documented choice that keeps every
    later number derivable from one persisted aggregate;
    broadcast-joined back, per-cluster top-k window. Labels every
    cluster the moment the clustering exists — the standard corpus
    exploration step after embedding k-means.
    """
    from model_audit_spark.functions.text import word_tokens
    from model_audit_spark.persistence import track

    toks = (
        assign.join(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(
            "cluster",
            F.explode(
                word_tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("term"),
        )
    )
    tc = track(
        toks.groupBy("cluster", "term")
        .agg(F.count("*").alias("tf_class"))
        .filter(F.col("tf_class") >= min_tf)
    )
    term_tot = tc.groupBy("term").agg(
        F.sum("tf_class").cast("bigint").alias("tf_global")
    )
    class_tot = tc.groupBy("cluster").agg(
        F.sum("tf_class").cast("bigint").alias("t_class")
    )
    n_total = term_tot.agg(
        F.sum("tf_global").cast("bigint").alias("n_total")
    )
    scored = (
        tc.join(F.broadcast(term_tot), "term")
        .join(F.broadcast(class_tot), "cluster")
        .crossJoin(F.broadcast(n_total))
        .select(
            "cluster",
            "term",
            "tf_class",
            "tf_global",
            F.expr(
                "tf_class * n_total * 1000000 DIV (tf_global * t_class)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("lift_ppm"), F.asc("term")
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rank") <= top_k)
        .select("cluster", "rank", "term", "tf_class", "tf_global",
                "lift_ppm")
    )
