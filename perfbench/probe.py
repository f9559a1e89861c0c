"""Measurement helpers: process-tree CPU and RSS from /proc, Spark counters
from the status store and physical-plan SQL metrics, and in-memory spans.

Nothing here changes what the program does; every reading is taken from
outside the package, around calls into its public functions.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table():
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(") ", 1)[1].split()
            # after comm: state(0) ppid(1) ... utime(11) stime(12)
            # cutime(13) cstime(14) ... rss pages(21)
            cpu = sum(int(x) for x in fields[11:15]) / _TICK
            table[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE)
        except (OSError, IndexError, ValueError):
            continue
    return table


def tree_pids(table, root: int):
    children = {}
    for pid, (ppid, _cpu, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None):
    """(cpu seconds, rss bytes) summed over ``root`` and every descendant:
    the Spark driver's Python process, the JVM and the Python workers."""
    table = _proc_table()
    pids = tree_pids(table, root or os.getpid())
    return (
        sum(table[p][1] for p in pids),
        sum(table[p][2] for p in pids),
    )


class RssSampler:
    """Background thread that records the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage()[1])
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_usage()[1])


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def summary(values):
    """Median plus the highest percentile with at least ten samples beyond
    it (the maximum when fewer than 11 samples exist), with the count."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals)}
    if n >= 20:
        q = int(100 * (1 - 10 / n))
        out[f"p{q}"] = vals[min(n - 1, int(n * q / 100))]
    else:
        out["max"] = vals[-1]
    return out


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


class SparkCounters:
    """Spark's own counters over the actions run since ``mark()``: stage
    totals from the status store, and SQL metrics of every plan node from
    the SQL status store.  Both are read after the listener bus drains."""

    FIELDS = {
        "executor_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spill_bytes": ("diskBytesSpilled", 1),
    }
    #: SQL metrics of the Python UDF nodes (MapInArrow, ArrowEvalPython, ...)
    UDF = {
        "udf.python_s": "time to run Python workers",
        "udf.bytes_to_python": "data sent to Python workers",
        "udf.bytes_from_python": "data returned from Python workers",
    }

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._first_stage = 0
        self._first_exec = 0

    def _stages(self):
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        seq = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self):
        self.jsc.listenerBus().waitUntilEmpty()
        seq = self.sql.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def mark(self):
        ids = [s.stageId() for s in self._stages()]
        self._first_stage = max(ids) + 1 if ids else 0
        ids = self._executions()
        self._first_exec = max(ids) + 1 if ids else 0

    def read(self):
        """Stage totals plus the UDF metrics, over everything since the
        last ``mark()``."""
        tot = dict.fromkeys(self.FIELDS, 0.0)
        for s in self._stages():
            if s.stageId() < self._first_stage:
                continue
            for key, (attr, scale) in self.FIELDS.items():
                tot[key] += getattr(s, attr)() * scale
            tot["spill_bytes"] += s.memoryBytesSpilled()
        for key, metric in self.UDF.items():
            tot[key] = sum(m.get(metric, 0) for _n, _d, m in self.nodes())
        return tot

    def nodes(self):
        """(node name, description, {metric: value}) for every plan node of
        the SQL executions since ``mark()``; sizes in bytes, times in s."""
        for eid in self._executions():
            if eid < self._first_exec:
                continue
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid).allNodes()
            for i in range(graph.size()):
                node = graph.apply(i)
                metrics = {}
                seq = node.metrics()
                for j in range(seq.size()):
                    pm = seq.apply(j)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        metrics[pm.name()] = parse_metric(v.get())
                yield node.name(), node.desc(), metrics


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it -> bytes, seconds or a
    count.  Formats: "3,000", "6.1 MiB", or for per-task metrics a
    "total (min, med, max ...)" header line followed by "2.6 s (...)"."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def count_jobs(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def job_seconds(spark, group: str) -> float:
    """Seconds from submission to completion, summed over the finished
    Spark jobs of job group ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total = 0.0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            total += (job.completionTime().get().getTime()
                      - job.submissionTime().get().getTime()) / 1e3
    return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: (name, start, end, parent, run id).  A disabled
    tracer records nothing and costs one attribute check per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans = []
        self.counts = {}
        self._stack = []

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans,
                 "counts": self.counts},
                f,
            )


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.active = t.enabled
        if self.active:
            parent = t._stack[-1] if t._stack else None
            t.spans.append(
                {"name": self.name, "start": time.perf_counter(), "end": None,
                 "parent": parent, "run_id": t.run_id}
            )
            t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if self.active:
            t.spans[t._stack.pop()]["end"] = time.perf_counter()
