"""The metrics a run prints: end-to-end ones (untraced) and per-layer ones
(traced).

Every count and time is per operation (see workloads.py), taken over the
jobs submitted inside the measured window, so runs of different length
compare. Layers are the engine's packages: `session`, `plans`, `sources`
(scans and writes), `operators` (exchanges, aggregates, sorts, windows),
`stats` (the pandas/Arrow stages) and `streaming` (state store, WAL, sink
batches), plus the `jvm` and `executor` as a whole.
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import EventLog, widest_stage_skew

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.load_all_plans_s": "s",
    "plans.build_ms": "ms",
    "plans.plan_ms": "ms",
    "plans.jobs_per_request": "count",
    "plans.exchanges": "count",
    "sources.files_read": "count",
    "sources.bytes_read": "B",
    "sources.scan_rows_out": "count",
    "sources.scan_time_ms": "ms",
    "sources.pushdown_ratio": "ratio",
    "sources.write_bytes": "B",
    "sources.write_files": "count",
    "sources.write_ms": "ms",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_records": "count",
    "operators.shuffle_fetch_wait_ms": "ms",
    "operators.agg_time_ms": "ms",
    "operators.sort_time_ms": "ms",
    "operators.spill_bytes": "B",
    "operators.peak_exec_mem_bytes": "B",
    "operators.task_skew": "ratio",
    "stats.python_stage_ms": "ms",
    "stats.arrow_bytes_sent": "B",
    "stats.arrow_bytes_received": "B",
    "stats.series_in": "count",
    "stats.series_fitted": "ratio",
    "stats.task_skew": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_mem_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.input_rows": "count",
    "jvm.gc_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.cpu_util": "ratio",
    "host.peak_rss_mb": "MB",
    "trace.execute_ms": "ms",
    "trace.op_p50_ms": "ms",
}


def per_layer(wl, log_path: str, t0_ms: float, t1_ms: float, spans, since: float,
              get_spark_s: float, load_plans_s: float, peak_rss_mb: float) -> dict[str, float]:
    ev = EventLog(log_path, t0_ms, t1_ms)
    ops = max(1, wl.attempted)
    sql = ev.sql_totals()
    # every attributed SQL metric, for looking past the named ones
    with open(os.path.join(wl.work, "sql_totals.json"), "w") as f:
        json.dump({f"{k[0]}|{k[1]}": v for k, v in sorted(sql.items())}, f, indent=1)

    def m(layer: str, name: str) -> float:
        return sql.get((layer, name), 0.0)

    tasks = ev.tasks
    stage_layers = ev.stage_layers()
    py_stages = {s for s, ls in stage_layers.items() if "stats" in ls}
    write_stages = {s for s, ls in stage_layers.items() if "sources.write" in ls}
    run_ms = sum(t["run"] for t in tasks)
    cpu_ms = sum(t["cpu"] for t in tasks)
    self_ms = spans.self_ms(since)

    files_read = m("sources", "number of files read")
    rows_in = files_read * wl.input_rows_per_file()
    scan_rows = m("sources", "number of output rows")

    prog = [p for p in getattr(wl, "progress", []) if p["numInputRows"] > 0]
    n_batches = max(1, len(prog))

    def prog_ms(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in prog) / n_batches

    def state(key: str) -> list[float]:
        """One value per batch: `key` summed over the batch's state operators."""
        return [sum(s[key] for s in p["stateOperators"]) for p in prog]

    series_in = getattr(wl, "series_in", 0)
    values = {
        "session.get_spark_s": get_spark_s,
        "plans.load_all_plans_s": load_plans_s,
        "plans.build_ms": self_ms.get("plans.build", 0.0) / ops,
        "plans.plan_ms": self_ms.get("plans.plan", 0.0) / ops,
        "plans.jobs_per_request": len(ev.jobs_in_window) / ops,
        "plans.exchanges": ev.exchanges() / ops,
        "sources.files_read": files_read / ops,
        "sources.bytes_read": m("sources", "size of files read") / ops,
        "sources.scan_rows_out": scan_rows / ops,
        "sources.scan_time_ms": m("sources", "scan time") / ops,
        "sources.pushdown_ratio": scan_rows / rows_in if rows_in else 0.0,
        "sources.write_bytes": sum(t["out_bytes"] for t in tasks) / ops,
        "sources.write_files": (m("sources.write", "number of written files")
                                or wl.sink_files()) / ops,
        "sources.write_ms": sum(t["run"] for t in tasks if t["stage"] in write_stages) / ops,
        "operators.shuffle_write_bytes": m("operators", "shuffle bytes written") / ops,
        "operators.shuffle_records": m("operators", "shuffle records written") / ops,
        "operators.shuffle_fetch_wait_ms": sum(t["fetch_wait"] for t in tasks) / ops,
        "operators.agg_time_ms": m("operators", "time in aggregation build") / ops,
        "operators.sort_time_ms": m("operators", "sort time") / ops,
        "operators.spill_bytes": sum(t["spill"] for t in tasks) / ops,
        "operators.peak_exec_mem_bytes": max((t["peak_mem"] for t in tasks), default=0),
        "operators.task_skew": widest_stage_skew(tasks),
        "stats.python_stage_ms": sum(t["run"] for t in tasks if t["stage"] in py_stages) / ops,
        "stats.arrow_bytes_sent": m("stats", "data sent to Python workers") / ops,
        "stats.arrow_bytes_received": m("stats", "data returned from Python workers") / ops,
        "stats.series_in": series_in,
        "stats.series_fitted": getattr(wl, "series_fitted", 0) / series_in if series_in else 0.0,
        "stats.task_skew": widest_stage_skew(tasks, py_stages) if py_stages else 0.0,
        "streaming.trigger_ms": prog_ms("triggerExecution"),
        "streaming.add_batch_ms": prog_ms("addBatch"),
        "streaming.query_planning_ms": prog_ms("queryPlanning"),
        "streaming.wal_commit_ms": prog_ms("walCommit"),
        "streaming.state_rows_total": sum(state("numRowsTotal")) / n_batches,
        "streaming.state_mem_bytes": max(state("memoryUsedBytes"), default=0),
        "streaming.state_commit_ms": sum(state("commitTimeMs")) / n_batches,
        "streaming.rows_dropped_by_watermark": sum(state("numRowsDroppedByWatermark")) / n_batches,
        "streaming.input_rows": sum(p["numInputRows"] for p in prog) / n_batches,
        "jvm.gc_ms": sum(t["gc"] for t in tasks) / ops,
        "executor.run_ms": run_ms / ops,
        "executor.cpu_ms": cpu_ms / ops,
        "executor.cpu_util": cpu_ms / run_ms if run_ms else 0.0,
        "host.peak_rss_mb": peak_rss_mb,
        "trace.execute_ms": self_ms.get("execute", 0.0) / ops,
        "trace.op_p50_ms": statistics.median(wl.op_ms),
    }
    return values
