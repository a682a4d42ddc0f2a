"""Spans around the harness's calls into the package, with the Spark work
of each span read back from Spark's own status store.

A span owns one Spark job group.  When it closes, the listener bus is
drained and the jobs of that group are harvested at once: stage metrics
from the core status store, SQL node metrics (the Python/Arrow nodes,
joins and scans) from the SQL status store.  Harvesting per span, never
through a global job-id delta, keeps the counts right however many jobs
a session has run; a job that is no longer in the store raises instead
of being dropped.

Nothing here is installed into the package; with tracing off a span
only reads the clock.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

PYTHON_NODE_SUFFIXES = ("EvalPython", "InPandas", "InArrow")

# SQL metric name -> span counter (bytes or seconds once parsed)
PYTHON_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "number of output rows": "arrow.rows_from_python",
    "time to run Python workers": "arrow.python_run_s",
    "time to initialize Python workers": "arrow.python_init_s",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1,234', '5 ms', '1.3 s',
    '782.9 KiB', or the per-task form 'total (min, med, max ...)\\n<total>
    (...)'.  Sizes come back in bytes, timings in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    num, _, unit = text.partition(" ")
    value = float(num.replace(",", ""))
    return value * _UNITS[unit] if unit else value


def _iterate(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _union_length(intervals: list) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _job_data(store, jid: int, span):
    try:
        return store.job(jid)
    except Exception as e:  # py4j wraps the JVM's NoSuchElementException
        raise RuntimeError(
            f"job {jid} was evicted from the status store before span "
            f"{span.name!r} was harvested; raise spark.ui.retainedJobs") from e


class Span:
    __slots__ = ("id", "name", "parent", "iteration", "group", "groups",
                 "start", "end", "planned_at", "counts")

    def __init__(self, sid: int, name: str, parent, iteration):
        self.id, self.name, self.parent = sid, name, parent
        self.iteration = iteration
        self.group = f"perfbench-{sid}"
        self.groups = [self.group]
        self.start = time.time()
        self.end = None
        self.planned_at = None
        self.counts: dict = {}

    def planned(self) -> None:
        """Mark the end of the lazy call: the span's time before this is
        driver planning time."""
        self.planned_at = time.time()

    def add_group(self, group: str) -> None:
        """Also harvest a job group Spark assigned itself (a streaming
        query runs its batches under the query's run id)."""
        self.groups.append(group)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def plan_s(self) -> float:
        return 0.0 if self.planned_at is None else self.planned_at - self.start

    def record(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "iteration": self.iteration, "start": self.start,
                "end": self.end, "wall_s": self.wall_s,
                "plan_s": self.plan_s, "counts": self.counts}


class Tracer:
    """Span recorder.  ``enabled=False`` keeps the harness code identical
    between traced and untraced iterations while touching no Spark
    state."""

    def __init__(self, enabled: bool = False):
        self.spark = None
        self.enabled = enabled
        self.spans: list = []
        self.iteration = None
        self._stack: list = []
        self._next_id = 0
        self._executions_seen = 0
        self._anchor_job = None

    def bind(self, spark) -> None:
        """Attach to a (new) session; the SQL execution cursor restarts."""
        self.spark = spark
        self._executions_seen = 0
        self._anchor_job = None

    @contextmanager
    def span(self, name: str, spark: bool = True):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next_id, name, parent.id if parent else None,
                 self.iteration)
        self._next_id += 1
        if not self.enabled:
            yield s
            s.end = time.time()
            return
        sc = self.spark.sparkContext if spark else None
        if sc is not None:
            sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(
                    "spark.jobGroup.id", parent.group if parent else None)
        if sc is not None:
            s.counts.update(self._harvest(s))
        self.spans.append(s)

    # ------------------------------------------------------------------
    # status store
    # ------------------------------------------------------------------
    def _harvest(self, s: Span) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_ids = sorted({j for g in s.groups
                          for j in tracker.getJobIdsForGroup(g)})
        out = {k: 0.0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks",
            "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
            "spark.spill_bytes", "spark.shuffle_write_bytes",
            "spark.shuffle_read_bytes", "spark.input_bytes",
            "arrow.udf_nodes", "sql.join_rows", "sql.scan_rows",
            *PYTHON_METRICS.values())}
        out["spark.jobs"] = float(len(job_ids))
        if self._anchor_job is None and job_ids:
            self._anchor_job = job_ids[0]
        if self._anchor_job is not None:
            # the store evicts oldest jobs first: once the first job this
            # tracer harvested is gone, a group's job list may be short
            _job_data(store, self._anchor_job, s)
        intervals, stage_ids = [], set()
        for jid in job_ids:
            jd = _job_data(store, jid, s)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            stage_ids.update(_iterate(jd.stageIds()))
        gw = sc._gateway
        no_status, no_q = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_q)
            for sd in _iterate(attempts):
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numTasks()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.gc_s"] += sd.jvmGcTime() / 1e3
                out["spark.spill_bytes"] += sd.diskBytesSpilled()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spark.input_bytes"] += sd.inputBytes()
        out["driver.gap_s"] = s.wall_s - _union_length(intervals)
        self._harvest_sql(set(job_ids), out)
        return out

    def _harvest_sql(self, job_ids: set, out: dict) -> None:
        if not job_ids:
            return
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = sql.executionsCount()
        if total == self._executions_seen:
            return
        new = sql.executionsList(self._executions_seen,
                                 total - self._executions_seen)
        self._executions_seen = total
        for ex in _iterate(new):
            jobs = {int(j) for j in _iterate(ex.jobs().keys())}
            if not jobs & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            for node in _iterate(sql.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                if name.endswith(PYTHON_NODE_SUFFIXES):
                    out["arrow.udf_nodes"] += 1
                    wanted = PYTHON_METRICS
                elif "Join" in name or name == "CartesianProduct":
                    wanted = {"number of output rows": "sql.join_rows"}
                elif name.startswith("Scan "):
                    wanted = {"number of output rows": "sql.scan_rows"}
                else:
                    continue
                for m in _iterate(node.metrics()):
                    key = wanted.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
