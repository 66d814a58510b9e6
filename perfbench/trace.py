"""Spans recorded by the benchmark around its calls into each layer, and
the Spark event log read back per span.

A span is ``{run_id, span_id, parent, name, start, end, attrs}``; all
spans of one process share ``run_id``. They are kept in memory and
written once, at exit. While a span is open its id is set as a Spark
local property, so every job, stage and task the call starts carries
it into the event log.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"

# SQL metric names of the Python exec nodes (MapInPandas,
# ArrowEvalPython, ...)
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_ROWS = "number of output rows"


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._sc = None

    def bind(self, sc) -> None:
        """Tag the jobs of SparkContext ``sc`` with the open span."""
        self._sc = sc

    def _tag(self) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._tag()

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def self_time(self, span_id: int) -> float:
        """Duration minus the part covered by child spans (children of
        one span never overlap: the driver issues them in turn)."""
        kids = [s for s in self.spans if s["parent"] == span_id]
        return self.duration(span_id) - sum(s["end"] - s["start"] for s in kids)

    def subtree(self, span_id: int) -> set[int]:
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(s["span_id"] for s in self.spans if s["parent"] == sid)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def median_self_s(self, name: str) -> float:
        """Median self time of the closed spans called ``name``; 0 when
        there are none."""
        spans = self.named(name)
        return statistics.median(self.self_time(s["span_id"]) for s in spans) if spans else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _metric_ids(node: dict) -> dict[str, int]:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}


def _rows_into(children: list[dict]) -> list[int]:
    """Row-count accumulators of the nearest nodes below that count their
    output rows (through codegen and adapter wrappers)."""
    out, todo = [], list(children)
    while todo:
        child = todo.pop(0)
        ids = _metric_ids(child)
        if _ROWS in ids:
            out.append(ids[_ROWS])
        else:
            todo.extend(child.get("children", []))
    return out


def _plan_accumulators(node: dict, acc: dict[str, set]) -> None:
    """Sort the plan's metric accumulators into the sets of ``acc``."""
    ids = _metric_ids(node)
    kids = node.get("children", [])
    if _PY_SENT in ids:
        acc["py_rows_in"].update(_rows_into(kids))
        if _ROWS in ids:
            acc["py_rows_out"].add(ids[_ROWS])
    if node.get("nodeName", "").endswith("HashJoin") and len(kids) == 2:
        if _ROWS in ids:
            acc["join_rows"].add(ids[_ROWS])
        # rows probing the hash table: the side that is not built
        stream = kids[1] if "BuildLeft" in node.get("simpleString", "") else kids[0]
        acc["join_probe_rows"].update(_rows_into([stream]))
    if "size of files read" in ids:
        acc["scan_file_bytes"].add(ids["size of files read"])
    for child in kids:
        _plan_accumulators(child, acc)


class EventLog:
    """Per-span task and SQL metrics from one uncompressed Spark event
    log (``spark.eventLog.compress=false``, rolling off)."""

    def __init__(self, path: str):
        self.stage_span: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.stage_accums: dict[int, dict[int, float]] = {}
        self.stage_named: dict[int, dict[str, float]] = {}
        self.acc: dict[str, set] = defaultdict(set)
        self._plans: dict[int, dict] = {}
        # driver-side SQL metrics (file listing) per query, and the span
        # of each query
        self._driver_accums: dict[int, dict[int, float]] = defaultdict(dict)
        self._query_span: dict[int, int] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))
        # only each query's final (adaptive) plan: the initial plan
        # wires the Python node to the scan, the final one through
        # ColumnarToRow, and both metrics count the same rows
        for plan in self._plans.values():
            _plan_accumulators(plan, self.acc)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = props.get(SPAN_PROPERTY)
            if sid is not None:
                for st in e["Stage IDs"]:
                    self.stage_span[st] = int(sid)
                if "spark.sql.execution.id" in props:
                    self._query_span[int(props["spark.sql.execution.id"])] = int(sid)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            info = e["Task Info"]
            if m is None or info.get("Failed"):
                return
            sr = m["Shuffle Read Metrics"]
            self.tasks[e["Stage ID"]].append({
                "duration_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m["Executor Run Time"],
                "cpu_ns": m["Executor CPU Time"],
                "gc_ms": m["JVM GC Time"],
                "shuffle_read": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                "shuffle_write": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
            })
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            accs, named = {}, defaultdict(float)
            for a in info.get("Accumulables", []):
                try:
                    v = float(a["Value"])
                except (TypeError, ValueError):
                    continue
                accs[a["ID"]] = v
                named[a.get("Name")] += v
            self.stage_accums[info["Stage ID"]] = accs
            self.stage_named[info["Stage ID"]] = named
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                self._driver_accums[e["executionId"]][acc_id] = float(v)

    def stages_of(self, span_ids: set[int]) -> list[int]:
        return sorted(st for st, sp in self.stage_span.items()
                      if sp in span_ids and st in self.stage_accums)

    def metrics(self, span_ids: set[int]) -> dict:
        """Task and SQL metrics summed over the stages of ``span_ids``."""
        stages = self.stages_of(span_ids)
        tasks = [t for st in stages for t in self.tasks[st]]

        def total(key):
            return sum(t[key] for t in tasks)

        def accum(key):
            ids = self.acc[key]
            return sum(v for st in stages for a, v in self.stage_accums[st].items() if a in ids)

        scan_bytes = sum(v for q, sp in self._query_span.items() if sp in span_ids
                         for a, v in self._driver_accums[q].items()
                         if a in self.acc["scan_file_bytes"])

        skew = 0.0
        if stages:
            longest = max(stages, key=lambda st: sum(t["duration_ms"] for t in self.tasks[st]))
            durs = [t["duration_ms"] for t in self.tasks[longest]]
            med = statistics.median(durs) if durs else 0
            skew = max(durs) / med if med > 0 else 0.0
        return {
            "stages": len(stages),
            "tasks": len(tasks),
            "task_run_s": total("run_ms") / 1e3,
            "task_cpu_s": total("cpu_ns") / 1e9,
            "gc_s": total("gc_ms") / 1e3,
            "shuffle_read_bytes": total("shuffle_read"),
            "shuffle_write_bytes": total("shuffle_write"),
            "spill_bytes": total("spill"),
            "task_skew": skew,
            "scan_file_bytes": scan_bytes,
            "py_bytes_sent": sum(self.stage_named[st].get(_PY_SENT, 0.0) for st in stages),
            "py_bytes_received": sum(self.stage_named[st].get(_PY_RECEIVED, 0.0) for st in stages),
            "py_rows_in": accum("py_rows_in"),
            "py_rows_out": accum("py_rows_out"),
            "join_rows": accum("join_rows"),
            "join_probe_rows": accum("join_probe_rows"),
        }
