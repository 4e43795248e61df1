"""The four workloads. Each one generates its inputs from the seed, runs one
operation at a time (a closed loop with one client and no think time) and
checks its outputs outside the timed region against the engine's own
DuckDB oracles.

An operation ("op") is the unit every end-to-end latency is taken over:

- integrate_batch: one build_integrated + write_parquet of the wide table;
- analyze_many_series: one pass of correlation_matrix, granger_causality
  and recursive_forecast, each collected with toPandas();
- dashboard_interactive: one dashboard request, constructor to toPandas();
- stream_ingest: one micro-batch of the file-source replay.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa

import gen

DASHBOARD_MIX = (
    "dashboard_render_bundle",
    "per_symbol_snapshot",
    "returns_histogram",
    "flagship_market_overview",
    "hourly_ohlc_bars",
)
ANALYSIS = ("correlation_matrix", "granger_causality", "recursive_forecast")
FORECAST_MIN_OBS = 34  # n_lags 24 + 10: the forecaster skips shorter series


class Collected:
    """A collected frame with the toPandas() that oracle_utils.compare calls."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def _ops_within(seconds: float, at_least: int):
    """Op indices for a closed loop of about `seconds`: the next op starts
    when the previous one ends, and only while it is expected (from the
    previous op's duration) to end less than half an op past the deadline.
    Looping until the deadline has passed would overrun by up to a whole
    op, 5-9 s on analyze_many_series. At least `at_least` ops run."""
    t0 = time.perf_counter()
    last, i = 0.0, 0
    while True:
        start = time.perf_counter()
        if i >= at_least and start - t0 + last / 2 >= seconds:
            return
        yield i
        last = time.perf_counter() - start
        i += 1


class Workload:
    """Base: inputs under `work`, engine handles in `eng`, spans in `spans`."""

    shape: gen.Shape
    # Untimed ops before the clock starts pay class loading, code generation,
    # JIT compilation and Python worker start-up. Most workloads settle after
    # the first op or two.
    warmup_s = 12.0

    def __init__(self, work: str, seed: int, eng, spans) -> None:
        self.work, self.seed, self.eng, self.spans = work, seed, eng, spans
        self.in_dir = os.path.join(work, "in")
        self.failures: list[str] = []
        self.attempted = 0
        self.failed_ops = 0
        self.items = 0
        self.op_ms: list[float] = []

    # -- inputs -----------------------------------------------------------
    def prepare(self) -> None:
        self.events = gen.generate(self.shape, self.seed)
        gen.write(self.events, os.path.join(self.in_dir, "events.parquet"))

    def input_rows_per_file(self) -> float:
        return self.events.num_rows

    # -- timed loop ---------------------------------------------------------
    def warmup(self) -> None:
        for i in _ops_within(self.warmup_s, at_least=1):
            self.run_op(-1 - i)
        self.attempted = self.items = 0
        self.op_ms.clear()

    def run_op(self, i: int) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> float:
        """At least two ops, so a median never rests on one. An op that
        raises counts as attempted and failed, and the loop goes on."""
        t0 = time.perf_counter()
        for i in _ops_within(seconds, at_least=2):
            try:
                self.run_op(i)
            except Exception:  # the engine's error is the measurement here
                self.attempted += 1
                self.failed_ops += 1
                self.failures.append(traceback.format_exc(limit=3))
        return time.perf_counter() - t0

    def _query(self, name: str, sf_dir: str, request: int | None) -> pd.DataFrame:
        """build -> plan -> execute of one registered query, as spans."""
        q = self.eng.queries[name]
        with self.spans.span("plans.build", request):
            df = q(self.eng.spark, sf_dir)
        with self.spans.span("plans.plan", request):
            df._jdf.queryExecution().executedPlan()
        with self.spans.span("execute", request):
            return df.toPandas()

    def sink_files(self) -> int:
        """Files written by sinks whose writes Spark reports no SQL metric for."""
        return 0

    # -- checks -------------------------------------------------------------
    def check(self) -> None:
        raise NotImplementedError

    def oracle(self, sql: str, events_path: str | None = None) -> pd.DataFrame:
        import duckdb

        con = duckdb.connect()
        try:
            path = events_path or os.path.join(self.in_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            return con.execute(sql).fetchdf()
        finally:
            con.close()

    def compare(self, got: pd.DataFrame, want: pd.DataFrame, name: str) -> bool:
        errs = self.eng.compare(Collected(got), want, name)
        self.failures.extend(errs)
        return not errs


class IntegrateBatch(Workload):
    """Many events on few symbols -> the hourly wide table, written as parquet."""

    shape = gen.Shape(n_events=400_000, n_symbols=6, zipf_s=1.2, span_days=90)
    # Its ops keep getting faster for ~20 ops (Catalyst and the scheduler
    # warming up, not the data): 10.0, 3.0, 2.1, 1.7 s, then 1.3-1.5 s.
    warmup_s = 20.0

    def run_op(self, i: int) -> None:
        t = time.perf_counter()
        with self.spans.span("op", i):
            with self.spans.span("plans.build", i):
                df = self.eng.build_integrated(self.eng.spark, self.in_dir)
            with self.spans.span("execute", i):
                self.eng.write_parquet(df, os.path.join(self.work, "out"))
        self.op_ms.append((time.perf_counter() - t) * 1e3)
        self.attempted += 1
        self.items += self.events.num_rows

    def check(self) -> None:
        got = self.eng.spark.read.parquet(os.path.join(self.work, "out")).toPandas()
        want = self.oracle(self.eng.integrated_oracle)
        if not self.compare(got, want, "integrate_batch"):
            self.failed_ops = self.attempted  # every op wrote this same table


class AnalyzeManySeries(Workload):
    """Many symbols with short-to-medium series; the Arrow/Python stages."""

    shape = gen.Shape(n_events=6_000, n_symbols=60, zipf_s=0.5, span_days=30,
                      short_symbols=20)

    def prepare(self) -> None:
        super().prepare()
        counts = np.bincount(np.asarray(self.events.column("user_id")))
        self.series_in = int((counts > 0).sum())
        self.series_fitted = int((counts >= FORECAST_MIN_OBS).sum())

    def run_op(self, i: int) -> None:
        t = time.perf_counter()
        with self.spans.span("op", i):
            self.last = {name: self._query(name, self.in_dir, i) for name in ANALYSIS}
        self.op_ms.append((time.perf_counter() - t) * 1e3)
        self.attempted += 1
        self.items += self.series_fitted

    def check(self) -> None:
        ok = self.compare(self.last["correlation_matrix"],
                          self.oracle(self.eng.oracles["correlation_matrix"]),
                          "correlation_matrix")
        g = self.last["granger_causality"]
        got = pd.DataFrame({
            "symbol": g["symbol"],
            "predictor": g["predictor"],
            "lag": g["lag"],
            "has_p": g["p_value"].notna(),
            "is_error": g["error"].notna(),
        })
        ok &= self.compare(_ints(got, "lag"),
                           _ints(self.oracle(self.eng.oracles["granger_structure"]), "lag"),
                           "granger_structure")
        ok &= self.compare(_ints(forecast_structure(self.last["recursive_forecast"],
                                                    self.events), "n_train", "n_test"),
                           _ints(self.oracle(self.eng.oracles["forecast_structure"]),
                                 "n_train", "n_test"),
                           "forecast_structure")
        if not ok:
            self.failed_ops = self.attempted  # every op computed these same outputs


def forecast_structure(fc: pd.DataFrame, events: pa.Table) -> pd.DataFrame:
    """pandas twin of the engine's forecast_structure projection, applied to
    the collected recursive_forecast output (no second model run)."""
    obs = pd.Series(np.asarray(events.column("user_id"))).value_counts()
    per = fc.groupby("symbol").agg(
        _rows=("step", "size"),
        _nsteps=("step", "nunique"),
        _minstep=("step", "min"),
        _maxstep=("step", "max"),
        _rmse_nan=("rmse", lambda s: int(s.isna().any())),
        _rmse_card=("rmse", "nunique"),
        _fc_bad=("forecast_c", lambda s: int((~np.isfinite(s)).any())),
        _skel_card=("n_obs", lambda s: len(set(zip(s, fc.loc[s.index, "n_train"],
                                                     fc.loc[s.index, "n_test"])))),
        _op_nobs=("n_obs", "max"),
        n_train=("n_train", "max"),
        n_test=("n_test", "max"),
    )
    out = pd.DataFrame({"symbol": obs.index.astype("int64"), "n_obs": obs.values})
    out = out.merge(per, left_on="symbol", right_index=True, how="outer")
    rows = out["_rows"].fillna(0).astype("int64")
    fitted = rows > 0
    return pd.DataFrame({
        "symbol": out["symbol"],
        "n_obs": out["n_obs"],
        "included": fitted,
        "n_forecast_rows": rows,
        "steps_ok": fitted & (out["_nsteps"] == 168) & (out["_minstep"] == 1)
        & (out["_maxstep"] == 168),
        "n_train": out["n_train"],
        "n_test": out["n_test"],
        "rmse_ok": fitted & (out["_rmse_nan"] == 0) & (out["_rmse_card"] == 1),
        "forecast_finite": fitted & (out["_fc_bad"] == 0),
        "skeleton_ok": fitted & (out["_skel_card"] == 1) & (out["_op_nobs"] == out["n_obs"]),
    })


def _ints(df: pd.DataFrame, *cols: str) -> pd.DataFrame:
    """Nullable integer columns as Python ints / None, whichever engine
    produced them (a NULL turns an integer column into float64)."""
    df = df.copy()
    for c in cols:
        df[c] = pd.Series([None if pd.isna(v) else int(v) for v in df[c]],
                          index=df.index, dtype=object)
    return df


class DashboardInteractive(Workload):
    """One closed-loop client sending a seeded mix of dashboard requests."""

    shape = gen.Shape(n_events=3_000, n_symbols=12, zipf_s=1.0, span_days=30)

    def prepare(self) -> None:
        super().prepare()
        # Every block of len(DASHBOARD_MIX) requests sends each query once,
        # in a seeded order: the order changes with the seed, the share of
        # each query does not.
        rng = np.random.Generator(np.random.PCG64(self.seed))
        self.mix = [name for _ in range(2_000) for name in rng.permutation(DASHBOARD_MIX)]
        self.responses: list[tuple[str, pd.DataFrame]] = []

    def warmup(self) -> None:
        super().warmup()
        self.responses.clear()

    def run_op(self, i: int) -> None:
        name = self.mix[i % len(self.mix)]
        t = time.perf_counter()
        with self.spans.span("op", i):
            pdf = self._query(name, self.in_dir, i)
        self.op_ms.append((time.perf_counter() - t) * 1e3)
        self.attempted += 1
        self.items += 1
        self.responses.append((name, pdf))

    def check(self) -> None:
        want = {n: self.oracle(self.eng.oracles[n]) for n in DASHBOARD_MIX}
        self.failed_ops += sum(
            not self.compare(pdf, want[name], name) for name, pdf in self.responses
        )


class StreamIngest(Workload):
    """Pre-staged files replayed one file per micro-batch through
    read_events_stream -> hourly_tumbling_agg -> parquet file sink."""

    shape = gen.Shape(n_events=18_000, n_symbols=20, zipf_s=1.0, span_days=15,
                      n_files=6, late_frac=0.03)

    def prepare(self) -> None:
        self.files = gen.generate(self.shape, self.seed)
        src = os.path.join(self.work, "stream_src")
        self.src = src
        base = 1_700_000_000
        for k, t in enumerate(self.files):
            path = os.path.join(src, f"part-{k:04d}.parquet")
            gen.write(t, path)
            # the file source orders new files by modification time
            os.utime(path, (base + k, base + k))
        self.replays: list[dict] = []
        self.progress: list[dict] = []

    def warmup(self) -> None:
        super().warmup()
        self.replays.clear()
        self.progress.clear()

    def input_rows_per_file(self) -> float:
        return statistics.mean(t.num_rows for t in self.files)

    def _replay(self, r: int, request: int | None) -> dict:
        eng = self.eng
        d = os.path.join(self.work, f"replay-{r}")
        shutil.rmtree(d, ignore_errors=True)
        with self.spans.span("op", request):
            with self.spans.span("plans.build", request):
                sdf = eng.hourly_tumbling_agg(
                    eng.read_events_stream(eng.spark, self.src, max_files_per_trigger=1)
                )
            with self.spans.span("execute", request):
                q = (
                    sdf.writeStream.format("parquet")
                    .outputMode("append")
                    .option("checkpointLocation", os.path.join(d, "ckpt"))
                    .option("path", os.path.join(d, "sink"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
        return {"sink": os.path.join(d, "sink"), "progress": [p for p in q.recentProgress]}

    def run_op(self, i: int) -> None:
        rep = self._replay(i, i)
        self.replays.append(rep)
        for p in rep["progress"]:
            self.progress.append(p)
            if p["numInputRows"] > 0:
                self.op_ms.append(float(p["durationMs"]["triggerExecution"]))
                self.attempted += 1
                self.items += p["numInputRows"]

    def sink_files(self) -> int:
        return sum(
            name.endswith(".parquet")
            for rep in self.replays for name in os.listdir(rep["sink"])
        )

    def check(self) -> None:
        path = os.path.join(self.work, "expected", "events.parquet")
        gen.write(gen.stream_kept(self.files), path)
        want = self.oracle(self.eng.oracles["streaming_batch_parity"], path)
        for rep in self.replays:
            got = self.eng.spark.read.parquet(rep["sink"]).toPandas()
            if not self.compare(got, want, "stream_ingest"):
                self.failed_ops += sum(p["numInputRows"] > 0 for p in rep["progress"])


WORKLOADS = {
    "integrate_batch": IntegrateBatch,
    "analyze_many_series": AnalyzeManySeries,
    "dashboard_interactive": DashboardInteractive,
    "stream_ingest": StreamIngest,
}
