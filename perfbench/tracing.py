"""Spans and Spark-side counters for the traced run.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
writes them out once at the end of a run. ``SparkCounters`` reads Spark's
own status stores through py4j after each op phase: the core status store
for jobs, stages and cached RDDs, and the SQL status store for per-node
plan metrics. ``StreamProgress`` is a ``StreamingQueryListener`` that
sums micro-batch progress. None of these are used in an untraced run.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# ------------------------------------------------------------------ spans


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, op, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.sid, 0.0)
        return out

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "self_s": self.self_times(),
                       "spans": [asdict(s) for s in self.spans]}, f)


# ------------------------------------------------------- status-store reads

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
                "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas",
                "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF")


def parse_metric(text: str) -> float:
    """Total of one SQL-store metric string, in base units (bytes, s).

    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    plain ones read ``1,234`` or ``61.6 KiB``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Reads counters for the jobs and SQL executions an op phase ran.

    Attribution is by id range: with one client issuing ops one at a
    time, every job and SQL execution started between two reads belongs
    to the phase in between (stream micro-batches included, which run
    under their own job group)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = self._max_job()
        self._last_exec = self._max_exec()

    def _seq(self, seq):
        return list(self._conv.asJava(seq))

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._seq(self._store.jobsList(None))), default=-1)

    def _max_exec(self) -> int:
        return max((e.executionId() for e in self._seq(self._sql.executionsList())), default=-1)

    def mark(self) -> None:
        """Forget everything up to now (work done outside any phase)."""
        self._last_job = self._max_job()
        self._last_exec = self._max_exec()

    def phase(self) -> dict[str, float]:
        """Counters of every job and SQL execution since the last read."""
        jobs = [j for j in self._seq(self._store.jobsList(None)) if j.jobId() > self._last_job]
        execs = [e for e in self._seq(self._sql.executionsList())
                 if e.executionId() > self._last_exec]
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "files_read", "scan_rows", "py_rows_in",
             "py_bytes_in", "py_bytes_out"), 0.0)
        out["jobs"] = len(jobs)
        for j in jobs:
            for sid in self._seq(j.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage skipped, no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for e in execs:
            self._add_sql(e.executionId(), out)
        if jobs:
            self._last_job = max(j.jobId() for j in jobs)
        if execs:
            self._last_exec = max(e.executionId() for e in execs)
        return out

    def _add_sql(self, exec_id: int, out: dict) -> None:
        values = self._conv.asJava(self._sql.executionMetrics(exec_id))
        graph = self._sql.planGraph(exec_id)
        nodes = {n.id(): n for n in self._seq(graph.allNodes())}
        children: dict[int, list[int]] = {}
        for e in self._seq(graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())

        def metric(node, name: str) -> float | None:
            for m in self._seq(node.metrics()):
                if m.name() == name:
                    v = values.get(m.accumulatorId())
                    return parse_metric(v) if v is not None else 0.0
            return None

        def rows_in(nid: int) -> float:
            # First descendant on each input branch that counts its rows.
            total = 0.0
            for c in children.get(nid, []):
                r = metric(nodes[c], "number of output rows")
                total += r if r is not None else rows_in(c)
            return total

        for nid, node in nodes.items():
            name = node.name()
            if name.startswith("Scan "):
                out["files_read"] += metric(node, "number of files read") or 0.0
                out["scan_rows"] += metric(node, "number of output rows") or 0.0
            elif name in PYTHON_NODES:
                out["py_rows_in"] += rows_in(nid)
                out["py_bytes_in"] += metric(node, "data sent to Python workers") or 0.0
                out["py_bytes_out"] += metric(node, "data returned from Python workers") or 0.0

    def storage_bytes(self) -> float:
        """Memory plus disk held by cached and checkpointed RDDs."""
        return float(sum(r.memoryUsed() + r.diskUsed()
                         for r in self._seq(self._store.rddList(True))))


# ------------------------------------------------------ streaming progress


class StreamProgress(StreamingQueryListener):
    """Sums micro-batch progress over every streaming query."""

    KEYS = ("batches", "input_rows", "add_batch_ms", "query_planning_ms",
            "wal_commit_ms", "state_rows_total", "state_memory_bytes")

    def __init__(self):
        self._lock = threading.Lock()
        self.totals = dict.fromkeys(self.KEYS, 0.0)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        with self._lock:
            t = self.totals
            t["batches"] += 1
            t["input_rows"] += p.numInputRows
            t["add_batch_ms"] += d.get("addBatch", 0)
            t["query_planning_ms"] += d.get("queryPlanning", 0)
            t["wal_commit_ms"] += d.get("walCommit", 0)
            for s in p.stateOperators:
                t["state_rows_total"] += s.numRowsTotal
                t["state_memory_bytes"] += s.memoryUsedBytes

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self.totals)


def kernel_seconds(spark) -> float:
    """Total time in Python UDF/kernel code from the UDF profiler."""
    results = spark._profiler_collector._perf_profile_results
    return float(sum(st.total_tt for st in results.values()))
