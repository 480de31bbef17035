"""Spans around the benchmark's calls into the engine, and the Spark
counters each span caused.

A span is opened by the benchmark around one public engine call.  In a
traced run, closing the span waits for Spark's listener bus to drain and
reads the in-process status stores (readable with ``spark.ui.enabled=false``)
for every job and SQL execution started while the span was open.  The
benchmark runs one operation at a time, so those are exactly the span's own;
this also covers jobs a streaming query runs on its own thread under its own
job group.  Bytes scanned come from the scan nodes' "size of files read" SQL
metric: the stage input-bytes counter reads near zero for local parquet
scans.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# Counters every traced span records (see README.md for their meaning).
SPAN_COUNTERS = (
    "wall_s", "jobs", "tasks", "executor_run_s", "util",
    "shuffle_write_mb", "input_mb", "output_rows",
)
_MB = 1024 * 1024


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
# one plan node of SparkPlanGraph.makeDotFile: its name and its metric lines
_DOT_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b>((?:<br>[^"]*)?)"')


def _timed(method):
    """Adds the wrapped method's wall time to ``self.read_s``: the tracing
    overhead, measured directly."""

    def wrapper(self, *args):
        t0 = time.perf_counter()
        try:
            return method(self, *args)
        finally:
            self.read_s += time.perf_counter() - t0

    return wrapper


def plan_counters(dot: str) -> dict:
    """Bytes of files scanned and rows out of pandas-UDF nodes, from one SQL
    execution's plan graph rendered with its metric values."""
    scan_bytes = python_rows = 0
    for name, body in _DOT_NODE.findall(dot):
        lines = dict(
            line.split(": ", 1) for line in body.split("<br>") if ": " in line
        )
        if name.startswith("Scan ") and "size of files read" in lines:
            value, unit = lines["size of files read"].split()
            scan_bytes += float(value) * _UNITS[unit]
        if name.endswith("InPandas") and "number of output rows" in lines:
            python_rows += int(lines["number of output rows"].replace(",", ""))
    return {"scan_bytes": scan_bytes, "python_rows": python_rows}


class SparkCounters:
    """Reads the status stores of one SparkSession over py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cores = spark.sparkContext.defaultParallelism
        self.read_s = 0.0

    def _execution_ids(self, count: int) -> list[int]:
        """Ids of the newest ``count`` SQL executions still in the store."""
        n = self._sql.executionsCount()
        ex = self._sql.executionsList(max(0, n - count), count)
        return [ex.apply(i).executionId() for i in range(ex.size())]

    @_timed
    def mark(self) -> tuple[int, int]:
        """The next job id and the next SQL execution id, once every event
        of earlier work has been posted."""
        self._sc.listenerBus().waitUntilEmpty()
        last = self._execution_ids(1)
        return self._sc.dagScheduler().numTotalJobs(), (last[0] + 1 if last else 0)

    @_timed
    def since(self, mark: tuple[int, int], wall_s: float) -> dict:
        """Counters of every job and SQL execution started after ``mark``."""
        self._sc.listenerBus().waitUntilEmpty()
        first_job, first_exec = mark
        end_job = self._sc.dagScheduler().numTotalJobs()
        store = self._sc.statusStore()
        stage_ids: set[int] = set()
        missing = 0
        for jid in range(first_job, end_job):
            try:
                seq = store.job(jid).stageIds()
            except Py4JJavaError:  # evicted from the bounded store
                missing += 1
                continue
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        tasks = run_ms = shuffle_w = out_rows = 0
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                shuffle_w += sd.shuffleWriteBytes()
                out_rows += sd.outputRecords()
        k = 64
        while (ids := self._execution_ids(k)) and ids[0] >= first_exec and len(ids) == k:
            k *= 2
        plan = {"scan_bytes": 0.0, "python_rows": 0}
        for eid in ids:
            if eid >= first_exec:
                dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
                for key, v in plan_counters(dot).items():
                    plan[key] += v
        run_s = run_ms / 1000.0
        return {
            "wall_s": wall_s,
            "jobs": end_job - first_job,
            "tasks": tasks,
            "executor_run_s": run_s,
            "util": run_s / (wall_s * self._cores) if wall_s > 0 else 0.0,
            "shuffle_write_mb": shuffle_w / _MB,
            "input_mb": plan["scan_bytes"] / _MB,
            "output_rows": out_rows,
            "python_rows": plan["python_rows"],
            "input_bytes": plan["scan_bytes"],
            "missing_jobs": missing,
        }

    def cached_mb(self) -> float:
        """Storage memory plus disk held by persisted tables."""
        rdds = self._sc.statusStore().rddList(True)
        used = sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))
        return used / _MB


class Tracer:
    """In-memory span recorder.  With ``counters=None`` it only keeps wall
    times (the untraced path stays free of status-store reads)."""

    def __init__(self, counters: SparkCounters | None = None):
        self.run_id = uuid.uuid4().hex[:12]
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.counters is not None

    @contextmanager
    def span(self, name: str, read_counters: bool = True):
        """Record one span; a traced span that ``read_counters`` also gets
        the Spark counters of the jobs it ran."""
        read = self.enabled and read_counters
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, len(self.spans), parent, self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        mark = self.counters.mark() if read else None
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if read:
                sp.counters = self.counters.since(mark, sp.wall_s)

    def self_time(self, sp: Span) -> float:
        """Duration of ``sp`` minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.span_id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall_s - covered

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                rec = asdict(sp)
                rec["self_s"] = self.self_time(sp)
                fh.write(json.dumps(rec) + "\n")
