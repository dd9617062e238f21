"""Outside-in span recorder.

Spans are recorded around the benchmark's calls into each layer (name,
start, end, parent, run id) and kept in memory. A span remembers the
range of Spark job ids submitted while it was open — read from the
DAGScheduler's job counter, so jobs started on plain worker threads
(which inherit no job tags or local properties) are attributed too.
After an operation ends, `resolve` reads the status store
(`statusStore().lastStageAttempt`, which works with the UI off) for
those jobs' stages and tasks, outside the timed region.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    build_end: float | None = None
    job_lo: int = 0
    job_hi: int = 0
    stats: dict | None = None   # filled by Recorder.resolve


class Recorder:
    """Records spans while `enabled`; otherwise every call is a no-op."""

    def __init__(self, spark, run_id: str):
        self.enabled = False
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jsc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()

    def _next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, self.run_id,
                  self._stack[-1] if self._stack else None,
                  time.perf_counter(), job_lo=self._next_job_id())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.job_hi = self._next_job_id()
            sp.end = time.perf_counter()
            self._stack.pop()

    def built(self, sp: Span | None) -> None:
        """Mark the point where the lazy DataFrame has been returned."""
        if sp is not None:
            sp.build_end = time.perf_counter()

    # -- status store ------------------------------------------------------

    def resolve(self, spans: list[Span]) -> None:
        """Fill `stats` of each boundary span not yet resolved from the
        status store. `op` spans are skipped: their jobs are their
        children's."""
        spans = [sp for sp in spans if sp.stats is None and sp.name != "op"]
        if not spans:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for sp in spans:
            stage_ids: set[int] = set()
            for jid in range(sp.job_lo, sp.job_hi):
                info = self._tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(int(x) for x in info.stageIds)
            tasks = run_ms = 0
            shuffle = 0
            durations: list[int] = []
            for sid in sorted(stage_ids):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                done = st.numCompleteTasks()
                if done == 0:
                    continue
                tasks += done
                run_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
                seq = store.taskList(sid, st.attemptId(), done)
                for i in range(seq.size()):
                    d = seq.apply(i).duration()
                    if d.isDefined():
                        durations.append(int(d.get()))
            sp.stats = {
                "jobs": sp.job_hi - sp.job_lo,
                "tasks": tasks,
                "run_ms": run_ms,
                "shuffle_write_mb": shuffle / 1e6,
                "task_durations": durations,
            }

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "run_id": sp.run_id,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": own[i], "build_end": sp.build_end,
                    "jobs": [sp.job_lo, sp.job_hi],
                    **{k: v for k, v in (sp.stats or {}).items()
                       if k != "task_durations"},
                }) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by child spans."""
    out = {i: sp.end - sp.start for i, sp in enumerate(spans)}
    for sp in spans:
        if sp.parent is not None:
            out[sp.parent] -= sp.end - sp.start
    return out


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """The per-boundary measures, summed over the given spans of one
    boundary (all spans must share a name)."""
    busy = sum(sp.end - sp.start for sp in spans)
    build = sum((sp.build_end or sp.end) - sp.start for sp in spans)
    stats = [sp.stats or {} for sp in spans]
    durations = [d for st in stats for d in st.get("task_durations", [])]
    run_ms = sum(st.get("run_ms", 0) for st in stats)
    med = statistics.median(durations) if durations else 0
    return {
        "busy_s": busy,
        "build_s": build,
        "jobs": sum(st.get("jobs", 0) for st in stats),
        "tasks": sum(st.get("tasks", 0) for st in stats),
        "shuffle_write_mb": sum(st.get("shuffle_write_mb", 0.0) for st in stats),
        "task_skew": max(durations) / med if med > 0 else 0.0,
        "exec_util": run_ms / 1000.0 / (busy * cores) if busy > 0 else 0.0,
    }
