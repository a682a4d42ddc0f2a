"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (removed at exit); the run record, and with
``--trace 1`` the spans, go to new files under ``.perfbench_out/``.

``--trace 0`` measures the end-to-end metrics: one cold set-up (imports,
session start, per-session preparation and one warm-up iteration), then
untimed iterations for ``WARMUP_SECONDS``, then the timed ones back to
back for ``--seconds``.
``--trace 1`` spends the first half of ``--seconds`` on untraced
iterations, sampling the process tree's memory (``peak_rss_mb``), and the
second half on traced ones; it reports the per-layer split of the traced
iterations, the Spark-free kernel rates, and the tracing overhead (traced
minus untraced median wall time).

Every iteration's output is checked against a reference computed from the
generated inputs.  Before it returns, the run ends every process it started
(the driver JVM and its Python workers) and waits for each.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dask_geopandas_spark"

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
WARMUP_SECONDS = 3.0
MIN_ITERATIONS = 3
MIN_TRACE_PHASE_ITERATIONS = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "batch_latency_s": "s",
}

GENERIC_LAYER = {
    "driver.plan_s": "s", "driver.gap_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.rows_from_python": "count", "arrow.python_run_s": "s",
    "arrow.python_init_s": "s", "arrow.udf_nodes": "count",
}


def layer_units() -> dict:
    from perfbench import kernels, workloads

    units = dict(GENERIC_LAYER)
    units.update({f"{n}.s": "s" for n in workloads.TIMED_SPANS})
    units.update({"sources.write_s": "s", "sources.read_s": "s"})
    units.update(workloads.LAYER_METRICS)
    units.update({k: "1/s" for k in kernels.METRICS})
    units["peak_rss_mb"] = "MB"
    units["trace.overhead_s"] = "s"
    return units


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own parent
    exits (the Python workers forked by the JVM's worker daemon), so that
    ``stop_descendants`` can find and reap all of them."""
    with contextlib.suppress(Exception):
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list:
    """Pids of every live or unreaped process below this one."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    found, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), ())
        found.extend(kids)
        todo.extend(kids)
    return found


def _reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_descendants(grace: float = 10.0) -> None:
    """Terminate every process this one started, directly or not, and wait
    until each has ended; after ``grace`` seconds, kill what is left."""
    start = time.monotonic()
    while True:
        _reap()
        alive = descendants()
        if not alive:
            return
        waited = time.monotonic() - start
        if waited > 3 * grace:
            raise RuntimeError(f"processes {alive} did not end")
        sig = signal.SIGTERM if waited < grace else signal.SIGKILL
        for pid in alive:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------
class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks)."""

    def __init__(self, interval: float = 0.05):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------
def start_session(scratch: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # keep every file the JVM writes inside the run's scratch directory
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData")
        .config("spark.local.dir", scratch)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # every span is harvested as soon as it closes; these keep a
        # whole run's jobs in the store so nothing is evicted before that
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def iteration_layers(workload, spans: list, result) -> dict:
    """Per-layer figures of one traced iteration."""
    from perfbench import workloads

    m = {k: 0.0 for k in GENERIC_LAYER}
    for s in spans:
        for k, v in s.counts.items():
            if k in m:
                m[k] += v
        m["driver.plan_s"] += s.plan_s
    m.update(workloads.span_seconds(spans))
    m.update({k: 0.0 for k in workloads.LAYER_METRICS})
    m.update(workload.layer_metrics(spans, result))
    return m


def median_dict(rows: list) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


class ClosedLoop:
    """One client: each iteration starts after the previous one returned
    and is checked against the workload's reference."""

    def __init__(self, workload, spark, dgs, tracer):
        self.workload, self.spark, self.dgs = workload, spark, dgs
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.walls = {False: [], True: []}
        self.latencies, self.layers = [], []

    def run(self, traced: bool, seconds: float, min_iterations: int) -> None:
        w, tracer = self.workload, self.tracer
        deadline = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < deadline or n < min_iterations:
            i = self.attempted
            tracer.enabled, tracer.iteration = traced, i
            first_span = len(tracer.spans)
            t0 = time.perf_counter()
            try:
                result = w.iteration(self.spark, self.dgs, tracer, i)
                wall = time.perf_counter() - t0
                ok = w.check(result)
            except Exception:
                traceback.print_exc()
                ok = False
            w.after_iteration(i)
            self.attempted += 1
            n += 1
            if not ok:
                self.failed += 1
            elif traced:
                self.walls[True].append(wall)
                self.layers.append(iteration_layers(
                    w, tracer.spans[first_span:], result))
            else:
                self.walls[False].append(wall)
                self.latencies.extend(w.batch_latencies(result, wall))


# ---------------------------------------------------------------------------
def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"{PACKAGE}/ not found next to perfbench/")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from host_speed_probe import probe

    from perfbench import kernels
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": bool(args.trace),
              "cores": CORES, "driver_memory": DRIVER_MEMORY,
              "git_head": git_head(), "started": time.time(),
              "host_probe_before": probe()}

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    scratch = os.path.join(work, "spark")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["PYSPARK_PYTHON"] = sys.executable
    adopt_orphans()
    spark = None
    try:
        workload = WORKLOADS[args.workload](args.seed, os.path.join(work, "in"))
        record["inputs"] = workload.sizes()
        tracer = Tracer(enabled=False)

        # -- set-up: imports, session, preparation, one warm iteration ----
        t0 = time.perf_counter()
        import pyspark
        import pyarrow

        dgs = __import__(PACKAGE)
        spark = start_session(scratch)
        tracer.bind(spark)
        workload.prepare(spark, dgs)
        warm = workload.iteration(spark, dgs, tracer, "warm")
        setup_s = time.perf_counter() - t0
        workload.after_iteration("warm")
        workload.reference(spark, dgs)
        record["versions"] = {"spark": pyspark.__version__,
                              "pyarrow": pyarrow.__version__}
        record["setup_s"] = setup_s
        # the first few iterations in a session still speed up (JIT,
        # Python worker reuse); time the plateau
        loop = ClosedLoop(workload, spark, dgs, tracer)
        loop.attempted = 1
        loop.failed = int(not workload.check(warm))
        loop.run(False, WARMUP_SECONDS, 1)
        loop.walls[False].clear()
        loop.latencies.clear()

        # -- closed loop ----------------------------------------------------
        if args.trace:
            # memory is sampled over untraced iterations only, before any
            # traced iteration has cached a frame
            sampler = RssSampler()
            sampler.start()
            loop.run(False, args.seconds / 2, MIN_TRACE_PHASE_ITERATIONS)
            peak = sampler.stop()
            loop.run(True, args.seconds / 2, MIN_TRACE_PHASE_ITERATIONS)
            tracer.enabled, tracer.iteration = True, None
            kernel = kernels.measure(args.seed, tracer)
        else:
            loop.run(False, args.seconds, MIN_ITERATIONS)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            # the driver JVM and its Python workers outlive spark.stop()
            stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    record["host_probe_after"] = probe()
    walls = loop.walls
    attempted, failed = loop.attempted, loop.failed
    record["walls_untraced"], record["walls_traced"] = walls[False], walls[True]

    if args.trace:
        record["peak_rss_mb"] = peak / 1e6
        metrics = median_dict(loop.layers) if loop.layers else {}
        metrics.update(kernel)
        metrics["peak_rss_mb"] = peak / 1e6
        if walls[True] and walls[False]:
            metrics["trace.overhead_s"] = (statistics.median(walls[True])
                                           - statistics.median(walls[False]))
        units = layer_units()
    else:
        wall_s = statistics.median(walls[False]) if walls[False] else 0.0
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "rows_per_s": workload.input_rows / wall_s if wall_s else 0.0,
            "batch_latency_s": (statistics.median(loop.latencies)
                                if loop.latencies else 0.0),
        }
        units = END_TO_END
    record.update(attempted=attempted, failed=failed,
                  failed_ratio=failed / attempted, metrics=metrics)

    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = (f"{args.workload}-seed{args.seed}-trace{int(bool(args.trace))}"
            f"-{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}")
    with open(os.path.join(out, stem + ".record.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(out, stem + ".spans.json"), "w") as f:
            json.dump([s.record() for s in tracer.spans], f)

    complete = all(k in metrics for k in units)
    return {"correct": failed == 0 and complete,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                        for k, u in units.items()}}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
