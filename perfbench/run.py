"""Benchmark harness: one workload, one fresh process, one seed.

    python3 perfbench/run.py --workload curate_pipeline --seed 1 \
        --seconds 1 --trace 0

Set-up is timed first: from process start until `get_spark` returns and
a trivial job has run. The inputs are then generated from the seed into
a scratch directory inside the checkout, which the run deletes when it
ends. The first pass is the cold pass; then passes run until `--seconds`
have been measured, at least one. Every operation's outputs are checked
against planted ground truth, and its result digest must repeat in
every pass.

With `--trace 0` the last line of stdout carries the end-to-end metrics.
With `--trace 1` every pass is traced and the line carries the per-layer
metrics (see perfbench/layer_map.json), per measured pass; the spans are
written to `--spans` at exit. The tracing overhead is trace.op_p50_s
and trace.op_cpu_p50_s against the untraced run's op_p50_s (printed on
its '# wall clock' line) and op_cpu_p50_s on the same seed.
"""

from __future__ import annotations

import os
import time


def _since_process_start() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = time.perf_counter() - _since_process_start()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOAD_NAMES = ("curate_pipeline", "ingest_index")
DRIVER_MEMORY = "2g"     # the inputs are small; keeps the JVM's footprint low
# JIT compiler threads normally come and go; kept alive, their CPU can be
# read per thread and left out of the warm CPU figures (see _cpu_s)
JIT_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")   # /proc comm, 15 chars


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="where to write the traced spans "
                    "(JSONL; default .perfbench_tmp/spans/)")
    return ap.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session(scratch: Path):
    """get_spark with every path it writes pointed into `scratch`, plus a
    trivial job. The package's own defaults are kept otherwise."""
    from model_audit_spark import get_spark

    n = _cores()
    tmp = scratch / "jvm-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the environment would override spark.local.dir; the JVM inherits it
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(scratch / "spark-local"),
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch} "
                f"{JIT_OPTS}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()   # the gateway JVM exits when stdin closes
    gateway.proc.wait(timeout=60)


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _ticks(stat_path: str) -> int:
    """utime + stime of a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


_jit_stats: list[str] = []


def _cpu_s() -> tuple[float, float]:
    """(all, work): CPU seconds used so far by this process and the driver
    JVM, and the same without the JVM's JIT compiler threads.

    In a warm pass the JIT still compiles (about two thirds of the pass's
    CPU on 4 cores, falling pass by pass) and how far it has got varies
    from run to run; `work` is the CPU of the program's own threads:
    Python, planning, tasks, shuffle and GC."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    if not _jit_stats:
        for task in glob.glob(f"/proc/{pid}/task/*"):
            with open(f"{task}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    _jit_stats.append(f"{task}/stat")
    hz = os.sysconf("SC_CLK_TCK")
    total = time.process_time() + _ticks(f"/proc/{pid}/stat") / hz
    jit = sum(_ticks(p) for p in _jit_stats) / hz
    return total, total - jit


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with ten or fewer samples, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _now() -> tuple[float, float, float]:
    """(wall s, CPU s, work CPU s) at this instant (see _cpu_s)."""
    return (time.perf_counter(), *_cpu_s())


def _minus(b: tuple, a: tuple) -> tuple:
    return tuple(x - y for x, y in zip(b, a))


@dataclass
class Pass:
    """Times of one pass, checks and status-store reads excluded: wall,
    all CPU and work CPU (without the JIT compiler threads)."""

    wall: float
    cpu: float
    work: float
    op_wall: list[float]
    op_work: list[float]
    items: int


class Run:
    """One benchmark run: passes, timings, checks and digests."""

    def __init__(self, spark, workload, rec):
        self.spark, self.w, self.rec = spark, workload, rec
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.digests: dict[str, str] = {}
        self.extras: list[dict] = []

    def do_pass(self, p: int, traced: bool) -> Pass:
        """Run pass p. Checks, candidate counts and status-store reads run
        between operations and are subtracted from the pass's times."""
        from perfbench.workloads import release

        self.rec.enabled = traced
        out = Pass(0.0, 0.0, 0.0, [], [], 0)
        skip = (0.0, 0.0, 0.0)
        start = _now()
        for op in self.w.passes(p):
            first = len(self.rec.spans)
            t0 = _now()
            with self.rec.span("op"):
                res = op()
            t1 = _now()
            wall, _, work = _minus(t1, t0)
            out.op_wall.append(wall)
            out.op_work.append(work)
            out.items += res.items
            if traced:
                self.rec.resolve(self.rec.spans[first:])
                if res.extra is not None:
                    self.extras.append(res.extra())
            self._account(res, p, self.w.check)
            skip = tuple(s + d for s, d in zip(skip, _minus(_now(), t1)))
        out.wall, out.cpu, out.work = _minus(_minus(_now(), start), skip)
        if traced:
            # the index writes that open an ingest pass sit outside any op
            self.rec.resolve(self.rec.spans)
        self.rec.enabled = False
        release(self.spark)
        return out

    def do_requests(self) -> list[tuple[int, int]]:
        """Run the workload's requests once, traced and untimed; return
        the span range of each."""
        from perfbench.workloads import release

        self.rec.enabled = True
        ranges = []
        for op in self.w.requests():
            first = len(self.rec.spans)
            with self.rec.span("op"):
                res = op()
            self.rec.resolve(self.rec.spans[first:])
            ranges.append((first, len(self.rec.spans)))
            self._account(res, 0, self.w.check_request)
        self.rec.enabled = False
        release(self.spark)
        return ranges

    def _account(self, res, p: int, check) -> None:
        self.attempted += 1
        fails = check(res)
        ref = self.digests.setdefault(res.key, res.digest)
        if ref != res.digest:
            fails.append(f"digest of {res.key} changed in pass {p}")
        if fails:
            self.failed += 1
            self.failures += fails


def measure(spark, w, rec, seconds: float, trace: bool) -> dict:
    """Cold pass, then measured passes for `seconds` (at least one), all
    traced or all untraced; a traced run then makes the workload's
    requests. There is no untimed warm-up: a run cannot afford one
    within the time the benchmark's repeated runs are given (see
    perfbench/layer_map.json)."""
    run = Run(spark, w, rec)
    passes = [run.do_pass(0, trace)]
    cold_spans = len(rec.spans)
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(passes) == 1:
        passes.append(run.do_pass(len(passes), trace))
    requests = run.do_requests() if trace else []
    return {"run": run, "passes": passes, "cold_spans": cold_spans,
            "requests": requests}


def end_to_end(m: dict, setup_s: float) -> tuple[dict, dict]:
    """(gated metrics, printed companions).

    Besides set-up, the gated metrics are CPU seconds of this process
    and the driver JVM: all of it for the cold pass, the work CPU (JIT
    compiler threads left out, see _cpu_s) for warm operations. Wall
    time is printed beside them but not gated: on a shared machine the
    host takes CPU from the guest in bursts of a minute or more (steal
    up to 30%), and a warm operation's wall time moves by half with it.
    So lost parallelism or added waiting, which costs wall time and no
    CPU, is outside the gate. A run measures few operations (one, at
    run_seconds 1), so the tail is the slowest of them."""
    cold, warm = m["passes"][0], m["passes"][1:]
    op_wall = [x for ps in warm for x in ps.op_wall]
    items = sum(ps.items for ps in warm)
    value, pct, n = tail(op_wall)
    gated = {
        "setup_s": (setup_s, "s"),
        "cold_cpu_s": (cold.cpu, "s"),
        "op_cpu_p50_s": (statistics.median(
            x for ps in warm for x in ps.op_work), "s"),
        "items_per_cpu_s": (items / sum(ps.work for ps in warm), "1/s"),
    }
    wall = {
        "op_p50_s": (statistics.median(op_wall), "s"),
        "cold_s": (cold.wall, "s"),
        "op_tail_s": (value, f"s (p{pct:g} of {n})"),
        "items_per_s": (items / sum(ps.wall for ps in warm), "1/s"),
    }
    return gated, wall


def per_layer(m: dict, rec, setup_s: float, rss_mb: float) -> dict:
    from perfbench.recorder import layer_metrics, self_times
    from perfbench.workloads import AUDIT_LAYERS, LAYERS

    spans = rec.spans
    c = m["cold_spans"]
    reqs = m["requests"]
    p_end = reqs[0][0] if reqs else len(spans)
    n_pass = len(m["passes"]) - 1
    # pass layers: the cold pass, then per measured pass; request
    # layers: the first request, then per later request
    regions = {"pass": (spans[:c], spans[c:p_end], n_pass),
               "request": (spans[p_end:reqs[0][1]] if reqs else [],
                           spans[reqs[0][1]:] if reqs else [],
                           max(len(reqs) - 1, 1))}
    cores = _cores()
    out: dict = {}
    units = {"busy_s": "s", "build_s": "s", "jobs": "count",
             "tasks": "count", "shuffle_write_mb": "MB",
             "task_skew": "ratio", "exec_util": "ratio"}
    for layer in LAYERS:
        _, warm, n = regions["request" if layer in AUDIT_LAYERS else "pass"]
        vals = layer_metrics([s for s in warm if s.name == layer], cores)
        for k, unit in units.items():
            v = vals[k]
            if k in ("busy_s", "build_s", "jobs", "tasks", "shuffle_write_mb"):
                v = v / n
            out[f"{layer}.{k}"] = (v, unit)
    for layer in LAYERS:
        cold, _, _ = regions["request" if layer in AUDIT_LAYERS else "pass"]
        out[f"{layer}.cold_s"] = (
            sum(s.end - s.start for s in cold if s.name == layer), "s")
    own = self_times(spans)
    out["op.self_s"] = (sum(own[i] for i, s in enumerate(spans)
                            if s.name == "op" and c <= i < p_end)
                        / n_pass, "s")
    out["session.start_s"] = (setup_s, "s")
    out["session.jvm_peak_rss_mb"] = (rss_mb, "MB")
    extras = m["run"].extras
    for layer in ("dedup.pairs", "dedup.index_probe"):
        got = [e[layer] for e in extras if layer in e]
        verified = sum(v for v, _ in got)
        cands = sum(c for _, c in got)
        out[f"{layer}.verified_per_candidate"] = (
            verified / cands if cands else 0.0, "ratio")
    recalls = [e["similarity.index_probe.recall_at_10"] for e in extras
               if "similarity.index_probe.recall_at_10" in e]
    out["similarity.index_probe.recall_at_10"] = (
        statistics.mean(recalls) if recalls else 0.0, "ratio")
    warm_passes = m["passes"][1:]
    out["trace.op_p50_s"] = (statistics.median(
        x for ps in warm_passes for x in ps.op_wall), "s")
    out["trace.op_cpu_p50_s"] = (statistics.median(
        x for ps in warm_passes for x in ps.op_work), "s")
    return out


def main(argv=None) -> int:
    args = _args(argv)
    # on SIGTERM, unwind through `finally` so the JVM and scratch go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = ROOT / ".perfbench_tmp"
    base.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    spark = None
    try:
        spark = _session(scratch)
        setup_s = time.perf_counter() - T_PROCESS

        from perfbench import inputs
        from perfbench.recorder import Recorder
        from perfbench.workloads import WORKLOADS

        paths, truth = inputs.generate(
            args.workload, args.seed, scratch / "inputs", inputs.Sizes())
        rec = Recorder(spark, f"{args.workload}-{args.seed}")
        w = WORKLOADS[args.workload](
            spark, paths, truth, scratch / "out", rec)
        m = measure(spark, w, rec, args.seconds, bool(args.trace))
        run = m["run"]
        gated, wall = end_to_end(m, setup_s)
        print(f"# workload {args.workload} seed {args.seed}: "
              f"{run.attempted} ops in {len(m['passes'])} passes; items are "
              f"{w.items_name}; error_rate {run.failed / run.attempted:.4f}")
        print("# pass walls s " + " ".join(
            f"{ps.wall:.2f}" for ps in m["passes"]))
        print("# pass cpu s " + " ".join(
            f"{ps.cpu:.2f}" for ps in m["passes"]))
        print("# pass work cpu s " + " ".join(
            f"{ps.work:.2f}" for ps in m["passes"]))
        print(f"# setup s {setup_s:.2f}; "
              f"{len(_jit_stats)} JIT compiler threads left out of work cpu")
        print("# digests " + json.dumps(run.digests, sort_keys=True))
        for f in run.failures[:20]:
            print(f"# FAILED {f}")
        print("# wall clock: " + ", ".join(
            f"{k} = {v:.6g} {u}" for k, (v, u) in wall.items()))
        if args.trace:
            metrics = per_layer(m, rec, setup_s, _jvm_peak_rss_mb())
            spans = Path(args.spans) if args.spans else (
                base / "spans" / f"{args.workload}-seed{args.seed}.jsonl")
            spans.parent.mkdir(parents=True, exist_ok=True)
            rec.dump(str(spans))
            print(f"# spans written to {spans}")
        else:
            metrics = gated
        for name, (v, unit) in metrics.items():
            print(f"# {name} = {v:.6g} {unit}")
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
