"""Spans and per-op Spark counters for the traced run.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
writes them out once, when the run ends. ``SparkCounters`` brackets one op:
it tags the op's jobs with a job group, then reads back every SQL execution
the op started from the SQL status store (``executionsList``,
``planGraph``, ``executionMetrics``) and folds the plan-node metrics into
layer counters. Both only observe: the library is called the same way
whether tracing is on or off.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from sqlmetrics import metric_value

# plan-node metric names (Spark 4.1), by layer
_SCAN_ROWS = "number of output rows"
_SCAN_BYTES = "size of files read"
_SCAN_TIME = "scan time"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_TIME = "time to run Python workers"
_SHUFFLE_BYTES = "shuffle bytes written"
_SHUFFLE_RECORDS = "shuffle records written"
_FETCH_WAIT = "fetch wait time"
_ROW_COUNTS = (_SCAN_ROWS, "records read")
_READ = {
    _SCAN_ROWS, _SCAN_BYTES, _SCAN_TIME, _PY_SENT, _PY_BACK, _PY_TIME,
    _SHUFFLE_BYTES, _SHUFFLE_RECORDS, _FETCH_WAIT, *_ROW_COUNTS,
}

LAYER_KEYS = (
    "scan.rows",
    "scan.bytes",
    "scan.time_s",
    "arrow.bytes_to_py",
    "arrow.bytes_from_py",
    "arrow.rows_to_py",
    "arrow.py_time_s",
    "shuffle.bytes_written",
    "shuffle.records",
    "shuffle.fetch_wait_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "jvm.gc_s",
)


class Tracer:
    """In-memory spans; ``span()`` nests, so parents come from the stack."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op_id": op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_start, cur_end = 0.0, None, None
        for s, e in kids:
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        spans = [
            dict(s, duration_s=s["end"] - s["start"], self_s=self.self_time(s))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


class SparkCounters:
    """Per-op layer counters from Spark's own bookkeeping (works with the
    UI off: the SQL status store and the status tracker are always kept)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def _gc_s(self) -> float:
        beans = self._gc_beans
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def begin(self, op_id: str) -> dict:
        self._sc.setJobGroup(op_id, op_id)
        return {
            "op_id": op_id,
            "executions": self._store.executionsCount(),
            "gc_s": self._gc_s(),
        }

    def end(self, token: dict) -> dict:
        """Counters of everything the op ran since ``begin``."""
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        # SQL metrics arrive through the async listener bus; drain it so the
        # finished executions are complete before reading them
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        out["jvm.gc_s"] = self._gc_s() - token["gc_s"]
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(token["op_id"]):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["spark.jobs"] += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numCompletedTasks if stage else 0
        first = token["executions"]
        count = self._store.executionsCount() - first
        if count > 0:
            for ex in self._conv.asJava(self._store.executionsList(first, count)):
                self._add_execution(ex.executionId(), out)
        return dict(out)

    def _add_execution(self, eid: int, out: dict) -> None:
        graph = self._store.planGraph(eid)
        values = self._conv.asJava(self._store.executionMetrics(eid))
        nodes: dict[int, tuple[str, dict]] = {}
        for node in self._conv.asJava(graph.allNodes()):
            metrics = {}
            for m in self._conv.asJava(node.metrics()):
                name = m.name()
                v = metric_value(values.get(m.accumulatorId())) if name in _READ else None
                if v is not None:
                    metrics[name] = v
            nodes[node.id()] = (node.name(), metrics)
        children: dict[int, list[int]] = defaultdict(list)
        for edge in self._conv.asJava(graph.edges()):
            children[edge.toId()].append(edge.fromId())
        top_py = None
        for node_id, (name, m) in nodes.items():
            if _SCAN_BYTES in m or _SCAN_TIME in m:  # a FileSourceScan
                out["scan.rows"] += m.get(_SCAN_ROWS, 0.0)
                out["scan.bytes"] += m.get(_SCAN_BYTES, 0.0)
                out["scan.time_s"] += m.get(_SCAN_TIME, 0.0)
            if _PY_SENT in m:  # MapInArrow / ArrowEvalPython / ...InPandas
                out["arrow.bytes_to_py"] += m[_PY_SENT]
                out["arrow.bytes_from_py"] += m.get(_PY_BACK, 0.0)
                out["arrow.py_time_s"] += m.get(_PY_TIME, 0.0)
                out["arrow.rows_to_py"] += _rows_below(node_id, nodes, children)
                if top_py is None or node_id < top_py:
                    top_py = node_id
            if _SHUFFLE_RECORDS in m:
                out["shuffle.bytes_written"] += m.get(_SHUFFLE_BYTES, 0.0)
                out["shuffle.records"] += m[_SHUFFLE_RECORDS]
                out["shuffle.fetch_wait_s"] += m.get(_FETCH_WAIT, 0.0)
        if top_py is not None:
            # the Python node nearest the root (lowest id) produces what
            # the action collects
            out["driver.collect_bytes"] = nodes[top_py][1].get(_PY_BACK, 0.0)


def _rows_below(node_id: int, nodes: dict, children: dict) -> float:
    """Rows fed into a Python node: the row count of the nearest node under
    it that keeps one (Project and codegen wrappers keep none)."""
    frontier = list(children.get(node_id, ()))
    total = 0.0
    while frontier:
        nxt = []
        for c in frontier:
            m = nodes.get(c, ("", {}))[1]
            count = next((m[k] for k in _ROW_COUNTS if k in m), None)
            if count is None:
                nxt.extend(children.get(c, ()))
            else:
                total += count
        frontier = nxt
    return total
