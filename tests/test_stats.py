"""Numeric tests for the statistical operators (no scipy/statsmodels in the
container, so the F survival function is validated against published
F-table critical values, and Granger against constructed causal series)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from stock_market_big_data_project_spark.operators.stats import (
    _granger_pvalue,
    betainc_reg,
    f_sf,
)


def test_f_sf_table_values():
    # Published F critical values: P(F(d1,d2) > crit) = 0.05
    assert f_sf(4.9646, 1, 10) == pytest.approx(0.05, abs=2e-3)
    assert f_sf(4.1028, 2, 10) == pytest.approx(0.05, abs=2e-3)
    assert f_sf(3.4780, 4, 10) == pytest.approx(0.05, abs=2e-3)
    # 1% critical value F(1, 20) = 8.0960
    assert f_sf(8.0960, 1, 20) == pytest.approx(0.01, abs=1e-3)


def test_betainc_symmetry():
    for a, b, x in [(2.5, 5.0, 0.3), (0.5, 0.5, 0.7), (10, 3, 0.05)]:
        assert betainc_reg(a, b, x) + betainc_reg(b, a, 1 - x) == pytest.approx(
            1.0, abs=1e-12
        )


def test_betainc_bounds():
    assert betainc_reg(2, 3, 0.0) == 0.0
    assert betainc_reg(2, 3, 1.0) == 1.0
    assert 0.0 < betainc_reg(2, 3, 0.5) < 1.0


def test_granger_detects_causality():
    rng = np.random.default_rng(42)
    n = 300
    x = rng.normal(size=n)
    noise = rng.normal(scale=0.1, size=n)
    y = np.zeros(n)
    for t in range(2, n):
        y[t] = 0.8 * x[t - 2] + noise[t]  # x causes y at lag 2
    p_causal = _granger_pvalue(y, x, 2)
    assert p_causal < 1e-6
    # reverse direction: y should not cause x
    p_reverse = _granger_pvalue(x, y, 2)
    assert p_reverse > 0.01


def test_granger_independent_series():
    rng = np.random.default_rng(7)
    y = rng.normal(size=200)
    x = rng.normal(size=200)
    p = _granger_pvalue(y, x, 3)
    assert 0.001 < p <= 1.0


def test_forecast_query_shape(spark, sf_dir):
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        load_all_plans,
    )

    load_all_plans()
    pdf = LOCAL_QUERIES["recursive_forecast"](spark, sf_dir).toPandas()
    # every symbol with enough history emits exactly 168 steps
    counts = pdf.groupby("symbol")["step"].count()
    assert (counts == 168).all() and len(counts) > 0
    assert pdf["forecast_c"].notna().all()
    assert np.isfinite(pdf["rmse"]).all()


def test_granger_query_shape(spark, sf_dir):
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        load_all_plans,
    )

    load_all_plans()
    pdf = LOCAL_QUERIES["granger_causality"](spark, sf_dir).toPandas()
    ok = pdf[pdf["error"].isna()]
    assert set(ok["lag"].unique()) <= {1, 2, 3, 4, 5}
    assert ((ok["p_value"] >= 0) & (ok["p_value"] <= 1)).all()
    assert set(ok["predictor"].unique()) <= {"error", "purchase", "signup", "view"}


def _pandas_granger(events: pd.DataFrame, maxlag: int = 5) -> pd.DataFrame:
    """Reference loop for OP-65 (analysis_part/main.py:58-78) in plain
    pandas: the hourly wide table (last value per (symbol, hour, type) by
    (ts, event_id)), forward-filled per symbol, then per symbol and
    predictor a pairwise dropna with the target, the maxlag + 2 guard and
    ``_granger_pvalue`` for lags 1..maxlag rounded to 5 dp."""
    ev = events.assign(hour_ts=events["ts"].dt.floor("h")).sort_values(
        ["ts", "event_id"]
    )
    cells = ev.groupby(["user_id", "hour_ts", "event_type"])["value"].last()
    wide = (
        cells.unstack("event_type")
        .reindex(columns=["click", "error", "purchase", "signup", "view"])
        .sort_index()
    )
    wide = wide.groupby(level="user_id").ffill()
    rows = []
    for sym, pdf in wide.groupby(level="user_id"):
        for pred in ["error", "purchase", "signup", "view"]:
            sub = pdf[["click", pred]].dropna()
            if len(sub) < maxlag + 2:
                rows.append((sym, pred, None, float("nan"),
                             f"insufficient data: {len(sub)} rows < {maxlag + 2}"))
                continue
            y = sub["click"].to_numpy(dtype=float)
            x = sub[pred].to_numpy(dtype=float)
            try:
                for lag in range(1, maxlag + 1):
                    rows.append((sym, pred, lag, round(_granger_pvalue(y, x, lag), 5), None))
            except Exception as exc:
                rows.append((sym, pred, None, float("nan"), str(exc)))
    return pd.DataFrame(rows, columns=["symbol", "predictor", "lag", "p_value", "error"])


def test_granger_engine_matches_pandas_loop(spark, sf_dir):
    """Engine-level differential for OP-65: the registered
    granger_causality query against the pure-pandas loop over the same
    forward-filled hourly wide table — p_value and error match exactly
    (granger_structure certifies only the row structure)."""
    from stock_market_big_data_project_spark.plans import get_query

    key = ["symbol", "predictor", "lag"]
    got = get_query("granger_causality")(spark, sf_dir).toPandas()
    want = _pandas_granger(pd.read_parquet(f"{sf_dir}/events.parquet"))
    got = got.sort_values(key, na_position="first").reset_index(drop=True)
    want = want.sort_values(key, na_position="first").reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (got["symbol"].to_numpy() == want["symbol"].to_numpy()).all()
    assert got["predictor"].tolist() == want["predictor"].tolist()
    assert got["lag"].fillna(-1).tolist() == want["lag"].fillna(-1).tolist()
    assert np.array_equal(
        got["p_value"].to_numpy(float), want["p_value"].to_numpy(float), equal_nan=True
    )
    assert got["error"].fillna("").tolist() == want["error"].fillna("").tolist()
    assert got["p_value"].notna().any()  # non-vacuous: some lags fitted
