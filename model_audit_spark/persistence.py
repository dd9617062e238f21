"""Session-scoped persist registry and relation memo.

Several operators persist mid-chain relations that more than one
downstream branch reads (the shingle relation feeding sign→band→verify,
the undirected/oriented edge relations feeding triangle counts, the
inverted-index postings feeding vocabulary coverage). A single query
evaluation needs those blocks alive until its action finishes, so the
operator cannot unpersist them itself — the result it returns is lazy.
Historically cleanup was delegated to ``spark.catalog.clearCache()``
between queries (the gate harness's convention), which works for a
one-query-per-session harness but lets a long-lived session evaluating
many graph queries accumulate executor storage blocks.

This module closes that gap with two small primitives:

- ``track(df)`` — register a persisted DataFrame so ``release_all()``
  can drop it explicitly. Operators route their mid-chain persists
  through this instead of bare ``.persist()``.
- ``memo(key, builder)`` — session-scoped memo for relations that are
  IDENTICAL across queries (e.g. the shingle relation of one parquet
  table): the first caller builds + persists, later callers reuse the
  cached blocks instead of re-tokenizing the corpus. The memo
  re-validates the entry's storage level on every hit (``is_cached``
  lies after ``clearCache()`` — the cache-manager lookup still matches
  the plan — but ``storageLevel`` drops to NONE, observed on PySpark
  4.1), so a harness that ran ``clearCache()`` in between transparently
  rebuilds — a stale entry can never serve dropped blocks.

The iterative operators share one loop lifecycle: ``pinned(df)`` holds
an input the rounds rescan (cache filled under the session conf,
released even when the body raises) and runs the body inside
``lazy_checkpoint_scope``; ``iterate(seed, step, rounds)`` runs the
checkpointed rounds.

At 100 TB the same discipline applies unchanged — ``track``/``memo``
wrap whatever StorageLevel the caller chose (MEMORY_AND_DISK spills;
a real cluster would checkpoint the memoized relation instead to also
truncate lineage), and ``release_all()`` is the session's explicit
end-of-batch hook instead of a blanket ``clearCache()`` that would also
evict unrelated users' blocks on a shared cluster.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Callable, Hashable, Iterator

from pyspark.sql import DataFrame

_tracked: list[DataFrame] = []
_memo: dict[Hashable, DataFrame] = {}
_obj_memo: dict[Hashable, object] = {}
_tracked_views: list[tuple[object, str]] = []

# Serializes lazy_checkpoint_scope entries (r13, VERDICT #8): two
# overlapping scopes — nested in one thread or concurrent across
# threads — would otherwise corrupt the save/restore of the session
# confs (scope B would save scope A's temporary values as "old" and
# restore them permanently). RLock + depth: nested scopes in one
# thread are no-ops beyond the outermost; scopes on OTHER threads
# block until the first exits.
_scope_lock = threading.RLock()
_scope_depth = 0


def _is_live(df: DataFrame) -> bool:
    """True iff the DataFrame's blocks are actually pinned. NOT
    df.is_cached: after spark.catalog.clearCache() the cache-manager
    lookup still reports True while the storage level is already NONE —
    the level is the ground truth for "will a scan hit cached blocks"."""
    lvl = df.storageLevel
    return bool(lvl.useMemory or lvl.useDisk or lvl.useOffHeap)


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame for explicit release.

    Returns the DataFrame unchanged so call sites stay one-line:
    ``rel = track(build().persist())``."""
    _tracked.append(df)
    return df


def memo(key: Hashable, builder: Callable[[], DataFrame]) -> DataFrame:
    """Return the session-cached DataFrame for `key`, building and
    persisting it on first use (or after its blocks were dropped).

    memo() persists (unless the builder's relation already holds live
    blocks — e.g. it ends in its own localCheckpoint) and tracks the
    result. The storage-level re-check makes the memo safe under an
    external ``spark.catalog.clearCache()``: the entry is rebuilt, never
    served stale."""
    df = _memo.get(key)
    if df is not None and _is_live(df):
        return df
    df = builder()
    if not _is_live(df):
        # builders that end in their own persist/localCheckpoint are
        # left alone (re-persisting spams CacheManager warnings)
        df = df.persist()
    _memo[key] = df
    _tracked.append(df)
    return df


def memo_obj(key: Hashable, builder: Callable[[], object]) -> object:
    """Session-scoped memo for small DRIVER-SIDE artifacts derived from
    a relation — a learned BPE merge chain, a codebook, a centroid
    table. Unlike ``memo`` there is no storage level to re-validate
    (the value is plain Python data, not executor blocks); the entry
    lives until ``release_all()``, which is also the bench harness's
    per-query isolation hook — so memoized artifacts never leak across
    isolated timings, only across queries that genuinely share a
    session batch (e.g. the driver's correctness gate)."""
    if key in _obj_memo:
        return _obj_memo[key]
    v = builder()
    _obj_memo[key] = v
    return v


def fill_caches_concurrently(
    dfs: list[DataFrame],
    labels: list[str] | None = None,
) -> None:
    """Materialize several INDEPENDENT persisted relations' caches
    concurrently (r13, guide §2.6 "overlap independent jobs"): one
    count() per relation, submitted from a small thread pool, so the
    FIFO scheduler backfills executors freed by one leg's straggler
    tail with the next leg's tasks instead of running the legs'
    AQE stage waves strictly leg-after-leg through a union plan. One
    worker per relation; the call returns when every leg is filled.

    Correctness-neutral: count() only fills the caches the final plan
    then scans. Contract: the relations must not share an UNFILLED lazy
    checkpoint (the single-materializer deadlock contract documented in
    lazy_checkpoint_scope), and any relation they ALL scan should be
    filled BEFORE this call — concurrent legs racing a cold shared
    cache each recompute it into the same blocks (correct, wasted CPU).
    Workers must not enter lazy_checkpoint_scope (pinned, iterate): its
    lock blocks every other thread, so a worker entering a scope while
    the calling thread holds one (and waits here) deadlocks the session.
    Job descriptions are thread-local, so each leg labels its own jobs
    in the UI. Exceptions propagate (first failure wins)."""
    from concurrent.futures import ThreadPoolExecutor

    if not dfs:
        return
    sc = dfs[0].sparkSession.sparkContext

    def _fill(i: int) -> None:
        if labels:
            sc.setJobDescription(labels[i])
        try:
            dfs[i].count()
        finally:
            if labels:
                sc.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        list(pool.map(_fill, range(len(dfs))))


@contextmanager
def lazy_checkpoint_scope(spark) -> Iterator[None]:
    """Compile a lazy-localCheckpoint iteration under AQE-off and
    auto-broadcast-off. Loops enter it through ``pinned`` (and
    ``iterate``), never directly.

    Why this exists (r12, observed live under jstack): a lazily
    checkpointed RDD that is MATERIALIZED concurrently from two JVM
    threads deadlocks — ``RDDCheckpointData.checkpointRDD`` holds the
    checkpoint-data monitor while asking for the RDD's ``partitions``
    lock, and ``DAGScheduler.getCacheLocs`` holds the RDD lock while
    asking for the checkpoint-data monitor (the stuck pair was
    ``dag-scheduler-event-loop`` vs ``broadcast-exchange-588`` inside
    pagerank's round build). Under AQE every ``localCheckpoint`` call
    triggers eager, MULTI-THREADED stage materialization of the round
    plan (the ``.rdd`` conversion), so each round of an iterative
    operator races broadcast/stage threads against the scheduler over
    the previous round's un-materialized checkpoint.

    Inside this scope AQE is off AND auto-broadcast is off
    (``spark.sql.autoBroadcastJoinThreshold=-1``). Both matter: with
    AQE off, ``.rdd`` conversion skips the eager stage materialization,
    but a STATIC plan containing a BroadcastHashJoin still runs its
    broadcast job at ``.rdd`` time on a broadcast-exchange thread
    (measured: 1 job per broadcast even AQE-off) — and if that subtree
    contains an un-materialized lazy checkpoint, the race above is
    right back. With both off, ``.rdd`` is pure compilation: ZERO jobs
    during construction (measured), no broadcast threads in the loop's
    plans at all, and the loop's final EAGER checkpoint materializes
    the whole chained lineage as ONE job driven single-threaded
    (checkpoint recursion then marks every earlier round from that one
    thread — no concurrent materialization left anywhere). The same
    change collapses the per-round AQE stage-materialization jobs
    (~50-100 per graph query measured at sf0.1) into that one job.

    Results are invariant to both settings; loop shuffles fall back to
    ``spark.sql.shuffle.partitions``, which this repo derives from the
    core budget (session.py) — scale-adaptive, not a local-mode
    constant. Loop joins are graph-bounded, where sort-merge is the
    right 100 TB default anyway; ``pinned`` keeps AQE's skew/broadcast
    handling for the corpus-sized upstream by materializing the pinned
    relation BEFORE entering the scope (the loop then scans cached
    blocks). Session values are restored on exit even if the loop
    raises.

    Concurrency contract (r13, VERDICT #8): the AQE/broadcast flips are
    SESSION-GLOBAL — Spark has no per-thread SQLConf — so a query that
    another thread compiles while a scope is active compiles with AQE
    and auto-broadcast off. That is a PERFORMANCE effect only: both
    settings are semantics-preserving (results identical, pinned by
    test_concurrent_compile_inside_scope_is_correct), and once built, a
    DataFrame keeps its own plan — the scope's exit restore does not
    retroactively change it. Overlapping scope ENTRIES are the
    dangerous case (save/restore corruption: the inner scope would
    save the outer's temporary values and restore them permanently) —
    serialized by a module RLock + depth counter: nested scopes in one
    thread only set/restore at the outermost level; a scope entered
    from another thread blocks until the active one exits. Harnesses
    that run queries strictly serially (bench.py, check_oracle.py, the
    driver's gate) never observe any of this."""
    global _scope_depth
    conf = spark.conf
    _scope_lock.acquire()
    _scope_depth += 1
    try:
        if _scope_depth == 1:
            old = conf.get("spark.sql.adaptive.enabled", "true")
            old_bc = conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10MB"
            )
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        yield
    finally:
        if _scope_depth == 1:
            conf.set("spark.sql.adaptive.enabled", old)
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        _scope_depth -= 1
        _scope_lock.release()


@contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """Persist `df`, fill its cache, and yield it inside
    ``lazy_checkpoint_scope``; unpersist on exit, also when the body
    raises.

    The fill (one ``count()``) runs BEFORE the scope, under the session
    conf, so the corpus-sized chain that produces `df` keeps AQE's
    skew/broadcast handling; the body — a loop's rounds, plus any
    scoped work before or after them that still scans `df` — runs
    AQE-off over the cached blocks. Whatever the body returns must not
    depend on `df` lazily: end it in an eager checkpoint (``iterate``
    does) or materialize it before the block exits."""
    df = df.persist()
    try:
        df.count()
        with lazy_checkpoint_scope(df.sparkSession):
            yield df
    finally:
        df.unpersist()


def iterate(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame | None],
    rounds: int,
) -> DataFrame:
    """Run ``state = step(state, i)`` for i in 0..rounds-1 from `seed`,
    localCheckpointing every state so each round's plan stays one round
    deep (an unrolled chain makes Catalyst re-optimize a growing tree
    every round).

    Cadence: the seed and every round checkpoint LAZILY and the last
    round EAGERLY, so that one single-threaded job materializes the
    whole chain — no round's checkpoint is ever materialized by two
    threads at once (the r12 deadlock; see lazy_checkpoint_scope, which
    this enters). `step` may run an action on its input (a convergence
    count, a collected scalar): the action is then the one job that
    materializes that input before the next round references it. A
    step that returns None stops the loop, and its input — already
    materialized by the step's action — is the result.

    Raises ValueError when `rounds` < 1: there would be no eager round
    to materialize the seed."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    with lazy_checkpoint_scope(seed.sparkSession):
        state = seed.localCheckpoint(eager=False)
        for i in range(rounds):
            nxt = step(state, i)
            if nxt is None:
                break
            state = nxt.localCheckpoint(eager=(i == rounds - 1))
    return state


def track_view(spark, name: str) -> str:
    """Register a session temp view whose BACKING ROWS live in JVM heap
    (a streaming memory-sink table) for explicit release.

    The memory sink's buffered rows survive query termination and are
    NOT dropped by ``spark.catalog.clearCache()`` — only dropping the
    temp view frees them. A 100x-events scale run measured the leak
    directly: streaming_sessionize's 9.5M-row sink stayed pinned through
    the next query's run and pushed the JVM into GCLocker allocation
    failures. Returns the name unchanged so call sites stay one-line."""
    _tracked_views.append((spark, name))
    return name


def release_all() -> int:
    """Unpersist every tracked relation, drop tracked memory-sink views,
    and clear the memo.

    The explicit end-of-session / between-batch hook. Returns the number
    of relations released (idempotent: a second call returns 0)."""
    n = 0
    for df in _tracked:
        try:
            if _is_live(df):
                df.unpersist()
                n += 1
        except Exception:
            # a dead SparkSession mid-teardown must not mask the caller's
            # own shutdown path
            pass
    for spark, name in _tracked_views:
        try:
            if spark.catalog.dropTempView(name):
                n += 1
        except Exception:
            pass
    _tracked.clear()
    _tracked_views.clear()
    _memo.clear()
    _obj_memo.clear()
    return n


def tracked_count() -> int:
    """Number of relations currently registered (pytest pins this)."""
    return len(_tracked)


def memo_size() -> int:
    """Number of live memo entries (pytest pins this)."""
    return len(_memo)


def obj_memo_size() -> int:
    """Number of live driver-side object-memo entries (pytest pins
    this)."""
    return len(_obj_memo)
