"""Layer measurement from outside the engine.

Spans are recorded around the benchmark's own calls into the engine; Spark
jobs, stages and SQL executions are read from Spark's status stores after
each call (outside the timed span) and attached to that call. The engine
itself carries no instrumentation.

Everything here except :class:`StatusReader` is plain Python and is unit
tested without Spark.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_UNIT_SCALE = {
    "": 1.0,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "PiB": 1024.0**5,
}
_METRIC_RE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted Spark SQL metric ("1.7 s", "623 ms", "416.0 B",
    "1,234", or the multi-task form "total (min, med, max ...)\\n1.7 s (...)")
    in base units: seconds, bytes or a plain count."""
    line = text.strip().splitlines()[-1] if "\n" in text.strip() else text.strip()
    m = _METRIC_RE.match(line.strip())
    if m is None:
        raise ValueError(f"unparseable SQL metric: {text!r}")
    value, unit = m.groups()
    if unit not in _UNIT_SCALE:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return float(value.replace(",", "")) * _UNIT_SCALE[unit]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Trace:
    """Spans kept in memory; :meth:`dump` writes them out with self times."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[idx]
        return s.duration - covered([(c.start, c.end) for c in self.children(idx)], s.start, s.end)

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": i,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(i),
                **s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


@dataclass
class CallStats:
    """What Spark did on behalf of one call into the engine."""

    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    executions: list[dict] = field(default_factory=list)

    def job_intervals(self) -> list[tuple[float, float]]:
        return [
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
            for j in self.jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]

    def stage_sum(self, key: str) -> float:
        return float(sum(s.get(key) or 0 for s in self.stages))

    def sql_sum(self, metric_names: tuple[str, ...], node_filter=None) -> float:
        total = 0.0
        for ex in self.executions:
            for node in ex["nodes"]:
                if node_filter is not None and not node_filter(node):
                    continue
                total += sum(v for k, v in node["metrics"].items() if k in metric_names)
        return total


#: The SQL metrics the layer counters read; others are not parsed.
SQL_METRICS = frozenset({
    "time to run Python workers",
    "time to start Python workers",
    "time to initialize Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
    "scan time",
    "number of files read",
    "size of files read",
    "number of output rows",
    "written output",
    "number of written files",
})


def _is_file_scan(node: dict) -> bool:
    return "number of files read" in node["metrics"]


def layer_counters(stats: CallStats) -> dict[str, float]:
    """Per-call counters in base units, named after the metric they feed."""
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(stats.jobs),
        "stages": len(stats.stages),
        "tasks": stats.stage_sum("numCompleteTasks") + stats.stage_sum("numFailedTasks"),
        "executor_run_s": stats.stage_sum("executorRunTime") / 1e3,
        "executor_cpu_s": stats.stage_sum("executorCpuTime") / 1e9,
        "shuffle_read_mb": stats.stage_sum("shuffleReadBytes") / mb,
        "shuffle_write_mb": stats.stage_sum("shuffleWriteBytes") / mb,
        "spill_mb": (stats.stage_sum("memoryBytesSpilled")) / mb,
        "gc_s": stats.stage_sum("jvmGcTime") / 1e3,
        "python_run_s": stats.sql_sum(("time to run Python workers",)),
        "python_start_s": stats.sql_sum(("time to start Python workers", "time to initialize Python workers")),
        "python_mb": stats.sql_sum(("data sent to Python workers", "data returned from Python workers")) / mb,
        "scan_s": stats.sql_sum(("scan time",), _is_file_scan),
        "files_read": stats.sql_sum(("number of files read",), _is_file_scan),
        "input_mb": stats.sql_sum(("size of files read",), _is_file_scan) / mb,
        "input_rows": stats.sql_sum(("number of output rows",), _is_file_scan),
        "written_mb": stats.sql_sum(("written output",)) / mb,
        "files_written": stats.sql_sum(("number of written files",)),
    }


class StatusReader:
    """Reads the SparkContext's job/stage store and the SQL store over py4j.

    Both stores are live with the UI disabled. Objects are serialized to JSON
    on the JVM side with Jackson's Scala module, one py4j call per object.
    Reads happen after every call, well inside the stores' retention
    (``q_dedup_components`` runs about 80 stages per call).
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()
        self._next_execution = 0
        self.skip_past()

    def skip_past(self) -> None:
        """Ignore every SQL execution started so far (untraced work)."""
        count = int(self._sql.executionsCount())
        if count:
            last = self._sql.executionsList(count - 1, 1)
            self._next_execution = int(last.head().executionId()) + 1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> CallStats:
        """Jobs submitted under ``group``, the stage attempts they ran that no
        earlier call already counted, and the SQL executions started since
        the previous collect."""
        # the stores are fed by the listener bus: let it deliver every event
        # of the finished call first
        self._bus.waitUntilEmpty(10_000)
        stats = CallStats()
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._json(self._store.job(job_id))
            stats.jobs.append(job)
            for stage_id in job.get("stageIds", []):
                for attempt in self._json(
                    self._store.stageData(stage_id, False, self._no_tasks, False, self._no_quantiles)
                ):
                    key = (attempt["stageId"], attempt["attemptId"])
                    if attempt["status"] in ("COMPLETE", "FAILED") and key not in self._seen_stages:
                        self._seen_stages.add(key)
                        stats.stages.append(attempt)
        stats.executions = self._new_executions()
        return stats

    def _new_executions(self) -> list[dict]:
        out, misses, eid = [], 0, self._next_execution
        while misses < 3:
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            ex = opt.get()
            values = self._json(self._sql.executionMetrics(eid))
            nodes = []
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in node.get("metrics", []):
                    text = values.get(str(m["accumulatorId"]))
                    if text is not None and m["name"] in SQL_METRICS:
                        metrics[m["name"]] = metrics.get(m["name"], 0.0) + parse_metric(text)
                nodes.append({"name": node["name"], "desc": node.get("desc", ""), "metrics": metrics})
            end = ex.completionTime()
            out.append({
                "id": eid,
                "root": int(ex.rootExecutionId()),
                "start": ex.submissionTime() / 1000.0,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "nodes": nodes,
            })
            eid += 1
            self._next_execution = eid
        return out

    def storage(self) -> tuple[int, float]:
        """(persisted RDD count, MB of cached blocks in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        size = sum(info.memSize() + info.diskSize() for info in infos)
        return len(self.sc._jsc.getPersistentRDDs()), size / (1024.0 * 1024.0)
