"""Tracing from outside the engine.

Two sources, neither of which needs the engine to change:

- `Spans`: wall-clock spans the benchmark records around each call it makes
  into the engine (name, start, end, parent, request id). They are kept in
  memory and written out when the run ends; a span's self time is its
  duration minus the time its children cover.
- `EventLog`: Spark's own event log (enabled through the benchmark's
  SPARK_CONF_DIR). Task metrics give run, CPU, GC, fetch-wait, shuffle and
  spill figures; the SQL plan info in the log maps every SQL metric
  accumulator to the physical operator that owns it, so metrics can be
  attributed to the engine's layers by operator kind.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SQL_EVENT = "org.apache.spark.sql.execution.ui."
FILE_SCANS = ("Scan parquet", "Scan csv", "Scan json", "Scan orc", "Scan text", "BatchScan")


class Spans:
    """In-memory span recorder; single-threaded, spans nest by call order."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent["request"]
        rec = {
            "id": len(self.items),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.items.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_ms(self, since: float = float("-inf")) -> dict[str, float]:
        """Total self time per span name, over spans started after `since`."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.items:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.items:
            if s["start"] >= since:
                out[s["name"]] += (s["end"] - s["start"] - child_time[s["id"]]) * 1e3
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)


def layer_of(node: str) -> str | None:
    """The engine layer a physical operator belongs to (by node name)."""
    if node.startswith(FILE_SCANS):
        return "sources"
    if "InsertIntoHadoopFsRelation" in node or node == "WriteFiles":
        return "sources.write"
    if node.startswith("StateStore") or node.startswith("Streaming") or "StateStore" in node:
        return "streaming"
    if "Pandas" in node or "Python" in node or "Arrow" in node:
        return "stats"
    if (
        "Exchange" in node
        or "Aggregate" in node
        or node.startswith("Sort")
        or node.startswith("Window")
    ):
        return "operators"
    return None


class EventLog:
    """Parsed Spark event log, restricted to jobs submitted in a window."""

    def __init__(self, path: str, t0_ms: float, t1_ms: float) -> None:
        self.acc: dict[int, tuple[str, str]] = {}  # accumulator -> (node, metric)
        self.plans: dict[int, dict] = {}  # execution id -> latest plan info
        self.driver_acc: list[tuple[int, int, float]] = []  # (exec, acc id, value)
        self.tasks: list[dict] = []  # task metrics + SQL accumulator updates
        self.jobs_in_window: set[int] = set()
        self.execs_in_window: set[int] = set()
        self._parse(path, t0_ms, t1_ms)

    def _walk(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc[int(m["accumulatorId"])] = (info["nodeName"], m["name"])
        for child in info.get("children", []):
            self._walk(child)

    def _parse(self, path: str, t0_ms: float, t1_ms: float) -> None:
        in_window_stages: set[int] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind in (SQL_EVENT + "SparkListenerSQLExecutionStart",
                            SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = int(ev["executionId"])
                    self.plans[eid] = ev["sparkPlanInfo"]
                    self._walk(ev["sparkPlanInfo"])
                    if t0_ms <= ev.get("time", -1) <= t1_ms:
                        self.execs_in_window.add(eid)
                elif kind == SQL_EVENT + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev["sqlPlanMetrics"]:
                        self.acc.setdefault(int(m["accumulatorId"]), ("?", m["name"]))
                elif kind == SQL_EVENT + "SparkListenerDriverAccumUpdates":
                    eid = int(ev["executionId"])
                    for acc_id, value in ev["accumUpdates"]:
                        self.driver_acc.append((eid, int(acc_id), float(value)))
                elif kind == "SparkListenerJobStart":
                    if t0_ms <= ev["Submission Time"] <= t1_ms:
                        self.jobs_in_window.add(ev["Job ID"])
                        in_window_stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in in_window_stages or "Task Metrics" not in ev:
                        continue
                    tm = ev["Task Metrics"]
                    info = ev["Task Info"]
                    self.tasks.append({
                        "stage": sid,
                        "run": tm["Executor Run Time"],
                        "cpu": tm["Executor CPU Time"] / 1e6,
                        "gc": tm["JVM GC Time"],
                        "fetch_wait": tm["Shuffle Read Metrics"]["Fetch Wait Time"],
                        "peak_mem": tm["Peak Execution Memory"],
                        "spill": tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"],
                        "out_bytes": tm["Output Metrics"]["Bytes Written"],
                        "accs": [
                            (int(a["ID"]), a.get("Name", ""), float(a["Update"]))
                            for a in info.get("Accumulables", [])
                            if isinstance(a.get("Update"), (int, float, str))
                            and _is_number(a["Update"])
                        ],
                    })

    # -- SQL metric totals ------------------------------------------------
    def sql_totals(self) -> dict[tuple[str, str], float]:
        """Sum of every SQL metric in the window, keyed (layer, metric name)."""
        tot: dict[tuple[str, str], float] = defaultdict(float)
        for t in self.tasks:
            for acc_id, name, upd in t["accs"]:
                node, metric = self.acc.get(acc_id, ("?", name))
                layer = layer_of(node)
                if layer is not None:
                    tot[(layer, metric)] += upd
                elif metric in WRITE_METRICS:
                    tot[("sources.write", metric)] += upd
        for eid, acc_id, value in self.driver_acc:
            if eid in self.execs_in_window and acc_id in self.acc:
                node, metric = self.acc[acc_id]
                layer = layer_of(node)
                if layer is not None:
                    tot[(layer, metric)] += value
        return dict(tot)

    def stage_layers(self) -> dict[int, set[str]]:
        """Layers whose operators ran inside each stage (from task metrics)."""
        out: dict[int, set[str]] = defaultdict(set)
        for t in self.tasks:
            for acc_id, name, _ in t["accs"]:
                node, metric = self.acc.get(acc_id, ("?", name))
                layer = layer_of(node)
                if layer is None and metric in WRITE_METRICS:
                    layer = "sources.write"
                if layer is not None:
                    out[t["stage"]].add(layer)
        return out

    def exchanges(self) -> int:
        """Exchange operators in the final plans of the window's executions."""
        n = 0

        def walk(info: dict) -> None:
            nonlocal n
            if info["nodeName"] in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
                n += 1
            for c in info.get("children", []):
                walk(c)

        for eid in self.execs_in_window:
            walk(self.plans[eid])
        return n


WRITE_METRICS = {"number of written files", "written output", "task commit time"}


def _is_number(v) -> bool:
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return True


def skew(run_times: list[float]) -> float:
    """max / median task run time (1.0 = perfectly even)."""
    med = statistics.median(run_times)
    return max(run_times) / med if med > 0 else float(max(run_times) > 0) + 1.0


def widest_stage_skew(tasks: list[dict], stages: set[int] | None = None) -> float:
    """Skew of the stage with the most tasks (ties: most total run time)."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        if stages is None or t["stage"] in stages:
            by_stage[t["stage"]].append(t["run"])
    if not by_stage:
        return 0.0
    widest = max(by_stage, key=lambda s: (len(by_stage[s]), sum(by_stage[s])))
    return skew(by_stage[widest])
