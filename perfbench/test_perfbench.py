"""Self-tests of the benchmark: `python3 -m pytest perfbench -q` from the
root of a checkout."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

import gen
from metrics import END_TO_END, PER_LAYER
from tracing import EventLog, Spans, layer_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("shape", [
    gen.Shape(n_events=3_000, n_symbols=5, zipf_s=1.0, span_days=10, short_symbols=3),
    gen.Shape(n_events=3_000, n_symbols=5, zipf_s=1.0, span_days=10, n_files=4, late_frac=0.05),
])
def test_generator_is_byte_identical_per_seed(tmp_path, shape):
    def files(seed: int, sub: str) -> list[str]:
        out = gen.generate(shape, seed)
        paths = []
        for k, t in enumerate(out if isinstance(out, list) else [out]):
            p = str(tmp_path / sub / f"part-{k}.parquet")
            gen.write(t, p)
            paths.append(_digest(p))
        return paths

    assert files(7, "a") == files(7, "b")
    assert files(7, "a") != files(8, "c")


def test_generator_covers_edge_cases():
    shape = gen.Shape(n_events=5_000, n_symbols=8, zipf_s=1.2, span_days=30, short_symbols=4)
    t = gen.generate(shape, 3)
    rows = set(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    assert len(rows) < t.num_rows  # exact duplicates
    ts = np.asarray(t.column("ts")).astype("int64")
    cutoff = gen.START_US + 4 * 24 * gen.HOUR_US  # pipeline.CUTOFF, 2024-01-05
    assert (ts < cutoff).any() and (ts >= cutoff).any()
    counts = np.bincount(np.asarray(t.column("user_id")))[1:]
    assert counts.min() < 7  # short series
    assert counts.max() > 3 * np.median(counts)  # key skew


def test_stream_late_rows_are_kept_or_dropped_unambiguously():
    shape = gen.Shape(n_events=8_000, n_symbols=6, zipf_s=1.0, span_days=12, n_files=6,
                      late_frac=0.05)
    files = gen.generate(shape, 5)
    kept = gen.stream_kept(files)
    total = sum(f.num_rows for f in files)
    assert 0 < total - kept.num_rows < 0.05 * total  # some rows are dropped
    newest = 0
    out_of_order = 0
    for f in files:
        ts = np.asarray(f.column("ts")).astype("int64")
        out_of_order += int((ts < newest).sum())
        newest = max(newest, int(ts.max()))
    assert out_of_order > total - kept.num_rows  # kept late rows exist too


def test_spans_self_time():
    spans = Spans()
    with spans.span("op", 1):
        with spans.span("plans.build"):
            pass
        with spans.span("execute"):
            pass
    op, build, execute = spans.items
    assert build["request"] == execute["request"] == 1
    assert build["parent"] == execute["parent"] == op["id"]
    self_ms = spans.self_ms()
    whole = (op["end"] - op["start"]) * 1e3
    assert self_ms["op"] + self_ms["plans.build"] + self_ms["execute"] == pytest.approx(whole)


def test_layer_of_operator_names():
    assert layer_of("Scan parquet ") == "sources"
    assert layer_of("Scan ExistingRDD") is None
    assert layer_of("Exchange") == "operators"
    assert layer_of("HashAggregate") == "operators"
    assert layer_of("MapInPandas") == "stats"
    assert layer_of("FlatMapGroupsInPandas") == "stats"
    assert layer_of("StateStoreSave") == "streaming"
    assert layer_of("Execute InsertIntoHadoopFsRelationCommand") == "sources.write"


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert all(unit for unit in {**END_TO_END, **PER_LAYER}.values())


def test_trace_parser_on_a_tiny_seed(tmp_path, monkeypatch):
    """A traced integrate op on a tiny input: the event log attributes scan,
    shuffle and write metrics to their layers."""
    pytest.importorskip("pyspark")
    import time

    from engine import setup, shutdown
    from run import host_settings, pin_environment

    work = str(tmp_path)
    for var in ("SPARK_CONF_DIR", "SPARK_LOCAL_DIRS", "TMPDIR", "SPARK_GRAFT_CPUS",
                "SPARK_DRIVER_MEMORY", "PYTHONPATH"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    pin_environment(work, True, host_settings())
    shape = gen.Shape(n_events=2_000, n_symbols=3, zipf_s=1.0, span_days=10)
    gen.write(gen.generate(shape, 1), os.path.join(work, "in", "events.parquet"))

    spark, _, _ = setup()
    try:
        from stock_market_big_data_project_spark.pipeline import build_integrated
        from stock_market_big_data_project_spark.sources.tables import write_parquet

        app_id = spark.sparkContext.applicationId
        t0 = time.time() * 1e3
        write_parquet(build_integrated(spark, os.path.join(work, "in")),
                      os.path.join(work, "out"))
        t1 = time.time() * 1e3
    finally:
        shutdown(spark)
    log = EventLog(os.path.join(work, "eventlog", app_id), t0, t1)
    sql = log.sql_totals()
    assert sql[("sources", "number of files read")] >= 1
    assert sql[("sources", "number of output rows")] > 0
    assert sql[("operators", "shuffle bytes written")] > 0
    assert sql[("sources.write", "number of written files")] >= 1
    assert log.exchanges() > 0
    assert all(t["run"] >= 0 for t in log.tasks) and log.tasks
