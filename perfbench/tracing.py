"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its own calls into the
package, and around package methods it wraps for the length of a traced
cycle (``wrapped``). Spark's own counters are read after each key or
phase, outside every span: jobs, stages and task metrics from the status
store per job group, Python-worker metrics from the SQL status store per
SQL execution, and Catalyst phase times from ``QueryExecution.tracker``.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory span list plus named counters. A disabled tracer keeps
    nothing, so the untraced run pays one attribute test per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


@contextlib.contextmanager
def wrapped(targets):
    """Replace each ``cls.method`` by ``factory(original)`` for the
    duration of the block, then restore the originals."""
    saved = [(cls, method, cls.__dict__[method]) for cls, method, _ in targets]
    for (cls, method, factory), (_, _, orig) in zip(targets, saved):
        setattr(cls, method, factory(orig))
    try:
        yield
    finally:
        for cls, method, orig in saved:
            setattr(cls, method, orig)


# -- Spark counters ---------------------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_MAP_ENTRY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_VALUE = re.compile(r"(-?[\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric_map(text: str) -> dict[int, str]:
    """A Scala ``Map[Long, String]`` of SQL metric values, from its
    ``toString`` (py4j hands Long keys back as Python ints, which cannot
    be used to look the entries up on the JVM side)."""
    marks = list(_MAP_ENTRY.finditer(text))
    out = {}
    for i, m in enumerate(marks):
        end = marks[i + 1].start() if i + 1 < len(marks) else len(text) - 1
        out[int(m.group(1))] = text[m.end():end]
    return out


def parse_metric_value(text: str) -> float:
    """A formatted SQL metric ("1.2 s", or "total (min, med, max ...)\\n
    3.0 MiB (...)") as seconds or bytes: the total, which is the first
    value after the header line."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1)) * _SCALE[m.group(2)]


class SparkCounters:
    """Reads Spark's status stores for what one key or phase ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._sql_seen = self._sql.executionsCount()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the finished jobs."""
        self._bus.waitUntilEmpty()

    def mark(self) -> None:
        """Start counting SQL executions from now on."""
        self.settle()
        self._sql_seen = self._sql.executionsCount()

    def jobs(self, tracer: Tracer, groups: list[str], prefix: str = "exec") -> None:
        tracker = self.sc.statusTracker()
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                tracer.add(f"{prefix}.jobs", 1)
                for sid in info.stageIds if info else ():
                    self._stage(tracer, sid, prefix)

    def _stage(self, tracer: Tracer, sid: int, prefix: str) -> None:
        try:
            seq = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
        except Py4JJavaError:
            return  # skipped stage: its shuffle output was reused
        for i in range(seq.size()):
            st = seq.apply(i)
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            tracer.add(f"{prefix}.stages", 1)
            tracer.add(f"{prefix}.tasks", st.numCompleteTasks())
            tracer.add(f"{prefix}.failed_tasks", st.numFailedTasks())
            tracer.add(f"{prefix}.run_s", st.executorRunTime() / 1e3)
            tracer.add(f"{prefix}.cpu_s", st.executorCpuTime() / 1e9)
            tracer.add(f"{prefix}.gc_s", st.jvmGcTime() / 1e3)
            tracer.add(f"{prefix}.shuffle_write_bytes", st.shuffleWriteBytes())
            tracer.add(f"{prefix}.shuffle_read_bytes", st.shuffleReadBytes())
            tracer.add(f"{prefix}.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())

    def python_metrics(self, tracer: Tracer) -> None:
        """Python-worker metrics of every SQL execution since the last
        call, eager build executions included."""
        count = self._sql.executionsCount()
        execs = self._sql.executionsList(int(self._sql_seen), int(count - self._sql_seen))
        self._sql_seen = count
        for i in range(execs.size()):
            ex = execs.apply(i)
            wanted = [
                (int(acc), _PY_METRICS[name])
                for name, acc, _ in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in _PY_METRICS
            ]
            if not wanted:
                continue
            values = parse_metric_map(self._sql.executionMetrics(ex.executionId()).toString())
            for acc, metric in wanted:
                if acc in values:
                    tracer.add(metric, parse_metric_value(values[acc]))


def catalyst_phases(tracer: Tracer, jdf) -> None:
    """Analysis, optimization and planning time of one Dataset's query."""
    phases = jdf.queryExecution().tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            tracer.add(f"catalyst.{phase}_ms", phases.apply(phase).durationMs())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """Parquet data files under ``root``: path → (size, mtime_ns). Staging
    directories are skipped; they are gone once an upsert returns."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.endswith("_stage")]
        for name in filenames:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out
