"""Per-layer counters for traced runs, read from what Spark already records.

Each traced client call runs in its own job group.  After the call returns,
``statusTracker()`` gives the group's jobs and their stages; the stages'
task counts, run times and shuffle/spill bytes come from the core status
store (``stageData``), and the SQL metrics of the Python exec nodes from
``sharedState().statusStore()``.  Both stores work with the UI disabled.

A ``Counters`` object collects spans from any thread; ``flush()`` turns the
spans that have ended into totals.  Flush often enough that Spark's
retention limits (1000 jobs, stages and SQL executions) are not reached.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict

_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_MAP_ENTRY = re.compile(r"(\d+) -> (.*?)(?=, \d+ -> |\)$)", re.S)
_VALUE = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")
_INT = re.compile(r"\d+")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in seconds or bytes."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("label", "group", "t0", "times")

    def __init__(self, label: str, group: str):
        self.label, self.group, self.t0, self.times = label, group, time.perf_counter(), {}


class Counters:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._lock = threading.Lock()
        self._n = 0
        self._ended: list[Span] = []
        self._sql_seen = self._sql_store().executionsCount()
        self.totals: dict[str, float] = defaultdict(float)
        self.by_label: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.wall_s = 0.0
        self.overheads: dict[str, float] = {}

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def begin(self, label: str) -> Span:
        """Start a span and put the calling thread's Spark jobs in its group."""
        with self._lock:
            self._n += 1
            group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, label)
        return Span(label, group)

    def end(self, span: Span, **times: float) -> None:
        """End a span; ``times`` are the caller's own sub-timings in seconds."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        span.times = times
        with self._lock:
            self._ended.append(span)

    def flush(self, wall_s: float = 0.0) -> None:
        """Read the counters of every ended span into the totals.
        ``wall_s`` is the wall time those spans covered (for slot use)."""
        with self._lock:
            spans, self._ended = self._ended, []
        tracker = self.sc.statusTracker()
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        no_tasks, no_q = jvm.java.util.ArrayList(), gw.new_array(jvm.double, 0)
        jobs_seen: set[int] = set()
        stages_seen: set[int] = set()
        for span in spans:
            jobs = list(tracker.getJobIdsForGroup(span.group))
            jobs_seen.update(jobs)
            lab = self.by_label[span.label]
            lab["ops"] += 1
            lab["jobs"] += len(jobs)
            for k, v in span.times.items():
                lab[k] += v
                self.totals[k] += v
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages_seen.update(info.stageIds)
        t = self.totals
        t["ops"] += len(spans)
        t["jobs"] += len(jobs_seen)
        for sid in stages_seen:
            seq = store.stageData(int(sid), False, no_tasks, False, no_q)
            for i in range(seq.size()):
                s = seq.apply(i)
                if s.status().toString() != "COMPLETE":
                    continue
                t["stages"] += 1
                t["tasks"] += s.numTasks()
                t["failed_tasks"] += s.numFailedTasks()
                t["executor_run_s"] += s.executorRunTime() / 1e3
                t["executor_cpu_s"] += s.executorCpuTime() / 1e9
                t["shuffle_write_bytes"] += s.shuffleWriteBytes()
                t["shuffle_read_bytes"] += s.shuffleReadBytes()
                t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._read_sql_metrics(jobs_seen)
        self.wall_s += wall_s

    def _read_sql_metrics(self, jobs: set[int]) -> None:
        """Sum the Python-node metrics of SQL executions that ran our jobs."""
        sq = self._sql_store()
        count = sq.executionsCount()
        if count <= self._sql_seen:  # executionsList rejects a length of 0
            return
        execs = sq.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            if not jobs.intersection(int(j) for j in _INT.findall(e.jobs().keySet().toString())):
                continue
            ids = {
                acc: _PY_METRICS[name]
                for name, acc, _ in _PLAN_METRIC.findall(e.metrics().toString())
                if name in _PY_METRICS
            }
            if not ids:
                continue
            values = sq.executionMetrics(e.executionId()).toString()
            for acc, text in _MAP_ENTRY.findall(values):
                if acc in ids:
                    self.totals[ids[acc]] += parse_metric(text)

    def overhead(self, name: str, traced: list[float], untraced: list[float]) -> None:
        """Traced minus untraced median of one metric, in its own unit."""
        import statistics

        if traced and untraced:
            self.overheads[name] = statistics.median(traced) - statistics.median(untraced)

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()
