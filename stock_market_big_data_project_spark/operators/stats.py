"""Statistical operators (SURVEY.md §2.10): correlation matrix (OP-30/67),
Granger causality (OP-65), per-symbol recursive forecaster (OP-66) and its
model-artifact sink (OP-09).

Spark-first split:
- The correlation matrix is pure Catalyst — melt → per-hour self-join →
  decimal-exact moment sums → closed-form Pearson in double. One shuffle on
  (symbol, hour); bit-identical across engines, so it is oracle-checkable.
- Granger, the forecaster and the model sink are inherently per-series
  sequential (OLS fits / feedback loop). All three use one pattern:
  ``_pack_series`` packs each symbol's series into one row of arrays, and
  ``mapInPandas`` runs the reference's per-symbol loop
  (analysis_part/main.py:58-125) over whole Arrow batches of symbols. The
  reference's settings are module constants: ``GRANGER_TARGET``,
  ``GRANGER_PREDICTORS`` and ``GRANGER_MAXLAG`` here, ``N_LAGS`` and
  ``TRAIN_FRAC`` in operators/windows.py.

No scipy/statsmodels/xgboost in this container:
- the F-distribution survival function is implemented here via the
  regularized incomplete beta (Lentz continued fraction — the standard
  published algorithm);
- the forecaster's one model is the in-repo histogram gradient-boosted
  trees (operators/gbt.py) with the reference's hyperparameters — the same
  model family as the reference's XGBRegressor (analysis_part/main.py:95-103).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import EXACT_DECIMAL
from .gbt import Forest, _seqsum, train_forest_batch
from .windows import N_LAGS, TRAIN_FRAC

# The reference's Granger settings (analysis_part/main.py:58-78): does each
# other event type Granger-cause clicks, at lags 1..5?
GRANGER_TARGET = "click"
GRANGER_PREDICTORS = ["error", "purchase", "signup", "view"]
GRANGER_MAXLAG = 5
# pandas' corr() needs 3 pairwise-complete observations for a coefficient.
CORR_MIN_N = 3

# ---------------------------------------------------------------------------
# F-distribution survival function (no scipy): p = I_x(d2/2, d1/2) with
# x = d2 / (d2 + d1·F) — regularized incomplete beta via Lentz's continued
# fraction (Numerical Recipes §6.4, public-domain algorithm).
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    MAXIT, EPS, FPMIN = 200, 3e-14, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log1p(-x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def f_sf(f_stat: float, d1: float, d2: float) -> float:
    """P(F > f_stat) for F(d1, d2)."""
    if not np.isfinite(f_stat) or f_stat < 0:
        return float("nan")
    x = d2 / (d2 + d1 * f_stat)
    return betainc_reg(d2 / 2.0, d1 / 2.0, x)


# ---------------------------------------------------------------------------
# Per-symbol packing: the one entry into the Python stages below
# ---------------------------------------------------------------------------


def _pack_series(df: DataFrame, ts_col: str, *val_cols: str) -> DataFrame:
    """One row per series: ``symbol`` plus one array column per value
    column, in (ts, values…) order — sorting whole structs breaks timestamp
    ties by value, deterministically. Each array reaches ``mapInPandas`` as
    a float64 ndarray with nulls as NaN.

    The round-robin repartition deals the series over defaultParallelism
    tasks regardless of key hashing. It is also what spreads the
    compute-bound Python stage: AQE sizes the aggregate's shuffle by its
    (tiny) bytes and folds it onto 1-2 partitions, but never coalesces a
    repartition by number. Per-series results are partition-invariant
    (per-series RNG seeding), so the deal is pure scheduling."""
    obs = F.sort_array(F.collect_list(F.struct(ts_col, *val_cols)))
    packed = df.groupBy("symbol").agg(obs.alias("obs"))
    return packed.select(
        "symbol", *(F.col(f"obs.{c}").alias(c) for c in val_cols)
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# Granger causality (OP-65, analysis_part/main.py:58-78)
# ---------------------------------------------------------------------------

GRANGER_SCHEMA = "symbol bigint, predictor string, lag int, p_value double, error string"


def _lag_matrix(arr: np.ndarray, lag: int) -> np.ndarray:
    """columns [arr_{t-1}, ..., arr_{t-lag}] for t = lag..n-1."""
    return np.column_stack([arr[lag - k : len(arr) - k] for k in range(1, lag + 1)])


def _granger_pvalue(y: np.ndarray, x: np.ndarray, lag: int) -> float:
    """ssr_ftest p-value for 'x Granger-causes y' at the given lag —
    restricted (own lags) vs unrestricted (own + x lags) OLS, matching
    statsmodels' grangercausalitytests ssr_ftest."""
    yt = y[lag:]
    n = len(yt)
    own = _lag_matrix(y, lag)
    other = _lag_matrix(x, lag)
    const = np.ones((n, 1))
    xr = np.hstack([own, const])
    xu = np.hstack([own, other, const])
    rss_r = float(np.sum((yt - xr @ np.linalg.lstsq(xr, yt, rcond=None)[0]) ** 2))
    rss_u = float(np.sum((yt - xu @ np.linalg.lstsq(xu, yt, rcond=None)[0]) ** 2))
    dof = n - 2 * lag - 1
    if dof <= 0 or rss_u <= 0:
        return float("nan")
    f_stat = ((rss_r - rss_u) / lag) / (rss_u / dof)
    return f_sf(f_stat, lag, dof)


def granger_causality(wide: DataFrame) -> DataFrame:
    """OP-65 — per (symbol, predictor): p-values for lags 1..maxlag.

    Exact reference semantics (analysis_part/main.py:58-78): pairwise dropna
    with the target, min-rows guard ``len < GRANGER_MAXLAG + 2`` emits an error row
    (predictor, NULL lag, NaN p, message), p-values rounded to 5 dp
    (analysis_part/main.py:68). ``hour_ts`` gives the chronological order of
    each series (the input need not be pre-sorted)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for sym, y_all, *x_all in zip(
                pdf["symbol"], pdf[GRANGER_TARGET], *(pdf[c] for c in GRANGER_PREDICTORS)
            ):
                for pred, x_pred in zip(GRANGER_PREDICTORS, x_all):
                    keep = ~(np.isnan(y_all) | np.isnan(x_pred))
                    n_pair = int(keep.sum())
                    if n_pair < GRANGER_MAXLAG + 2:
                        rows.append(
                            (sym, pred, None, float("nan"),
                             f"insufficient data: {n_pair} rows < {GRANGER_MAXLAG + 2}")
                        )
                        continue
                    y, x = y_all[keep], x_pred[keep]
                    try:
                        for lag in range(1, GRANGER_MAXLAG + 1):
                            p = _granger_pvalue(y, x, lag)
                            rows.append((sym, pred, lag, round(p, 5), None))
                    except Exception as exc:  # mirror the reference's failure rows
                        rows.append((sym, pred, None, float("nan"), str(exc)))
            yield pd.DataFrame(
                rows, columns=["symbol", "predictor", "lag", "p_value", "error"]
            )

    packed = _pack_series(wide, "hour_ts", GRANGER_TARGET, *GRANGER_PREDICTORS)
    return packed.mapInPandas(fn, schema=GRANGER_SCHEMA)


# ---------------------------------------------------------------------------
# Per-symbol trainer + recursive forecaster (OP-66, analysis_part/main.py:81-125)
# ---------------------------------------------------------------------------

FORECAST_SCHEMA = (
    "symbol bigint, step int, forecast_c double, rmse double, "
    "n_obs int, n_train int, n_test int"
)

def _lag_split(vals: np.ndarray):
    """(lag features, targets, train/test split index) for one series."""
    x = _lag_matrix(vals, N_LAGS)
    y = vals[N_LAGS:]
    return x, y, int(len(y) * TRAIN_FRAC)


def _test_rmse(forest: Forest, i: int, x_te: np.ndarray, y_te: np.ndarray) -> float:
    """Test RMSE of the forest's series ``i``; the squared errors are summed
    in index order (matches a pure-Python running sum bitwise). NaN when
    the split leaves no test rows."""
    if not len(y_te):
        return float("nan")
    err = forest.predict_rows(np.full(len(y_te), i), x_te) - y_te
    return float(np.sqrt(_seqsum(err * err) / len(err)))


def recursive_forecast(series: DataFrame, ts_col: str, horizon: int = 168) -> DataFrame:
    """OP-66 — per symbol: 24 lag features → 80/20 temporal split → fit →
    test RMSE → 168-step *recursive* forecast feeding each prediction back
    into the lag vector. Each row also carries the deterministic training
    skeleton (n_obs, n_train, n_test) so the SQL-expressible projection of
    the operator — inclusion predicate, step coverage, split sizes, rmse
    finiteness — can be hash-certified against a relational oracle
    (`forecast_structure`), the same pattern as granger_structure for
    Granger.

    Over the packed series, one ``mapInPandas`` call trains every symbol of
    an Arrow batch level-synchronously and runs the 168-step feedback loop
    once for the whole batch — each step is one vectorized pass over
    (n_symbols × N_LAGS). Measured on 4 vCPU, a 15-series batch takes
    1.5-1.9 s, of which ~0.45 s is a per-batch floor of ~2100 level
    iterations."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            syms, xs_tr, ys_tr, x_te, y_te, windows, skels = ([] for _ in range(7))
            for sym, vals in zip(pdf["symbol"], pdf["value"]):
                if len(vals) < N_LAGS + 10:
                    continue
                x, y, split = _lag_split(vals)
                syms.append(sym)
                xs_tr.append(x[:split])
                ys_tr.append(y[:split])
                x_te.append(x[split:])
                y_te.append(y[split:])
                windows.append(vals[-N_LAGS:][::-1])  # [0] = most recent
                skels.append((len(vals), split, len(y) - split))
            if not syms:
                continue
            # default GBTParams = the reference's XGBRegressor settings
            # (analysis_part/main.py:95-103)
            forest = train_forest_batch(xs_tr, ys_tr, syms)
            rmses = [_test_rmse(forest, i, *te) for i, te in enumerate(zip(x_te, y_te))]
            w_mat = np.stack(windows)
            p_mat = np.empty((len(syms), horizon))
            for step in range(horizon):
                p = forest.predict_step(w_mat)
                p_mat[:, step] = p
                w_mat = np.hstack([p[:, None], w_mat[:, :-1]])
            skel = np.asarray(skels, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "symbol": np.repeat(np.asarray(syms), horizon),
                    "step": np.tile(np.arange(1, horizon + 1), len(syms)),
                    "forecast_c": p_mat.ravel(),
                    "rmse": np.repeat(rmses, horizon),
                    "n_obs": np.repeat(skel[:, 0], horizon),
                    "n_train": np.repeat(skel[:, 1], horizon),
                    "n_test": np.repeat(skel[:, 2], horizon),
                }
            )

    packed = _pack_series(series, ts_col, "value")
    return packed.mapInPandas(fn, schema=FORECAST_SCHEMA)


# ---------------------------------------------------------------------------
# Model binary sink (OP-09, analysis_part/main.py:39-48: joblib.dump → GCS)
# ---------------------------------------------------------------------------

MODEL_SCHEMA = "symbol bigint, model binary, rmse double"


def fit_models(series: DataFrame) -> DataFrame:
    """Per-symbol model artifacts as a (symbol, model binary, rmse) table.

    The reference pickles one model per symbol to a blob store
    (analysis_part/main.py:39-48); here the artifact set is itself a
    DataFrame — write it with ``write_parquet`` and the binary column rides
    parquet like any other (at 100 TB: model registry as a table, pruned and
    joined like data). The payload is a pickled dict of the GBT's node
    arrays; ``predict_from_blob`` reloads it."""
    import pickle

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # per-SYMBOL training here (vs recursive_forecast's batched
            # trainer) is deliberate: the sink's artifact is one
            # self-contained per-symbol node-array dict, and per-series
            # RNG seeding makes the single-series forest BIT-IDENTICAL
            # to the one the batched trainer grows (the batch-invariance
            # differential) — slicing a symbol's reachable nodes out of
            # a batch forest would cost more than retraining it
            for sym, vals in zip(pdf["symbol"], pdf["value"]):
                if len(vals) < N_LAGS + 10:
                    continue
                x, y, split = _lag_split(vals)
                forest = train_forest_batch([x[:split]], [y[:split]], [sym])
                payload = {
                    "kind": "gbt", "n_lags": N_LAGS,
                    "feat": forest.feat, "thr": forest.thr,
                    "left": forest.left, "right": forest.right,
                    "val": forest.val, "is_leaf": forest.is_leaf,
                    "roots": forest.roots, "base": forest.base,
                    "lr": forest.lr, "max_depth": forest.max_depth,
                }
                rmse = _test_rmse(forest, 0, x[split:], y[split:])
                rows.append((sym, pickle.dumps(payload), rmse))
            yield pd.DataFrame(rows, columns=["symbol", "model", "rmse"])

    packed = _pack_series(series, "ts", "value")
    return packed.mapInPandas(fn, schema=MODEL_SCHEMA)


def predict_from_blob(blob: bytes, window: np.ndarray) -> float:
    """Reload a persisted GBT artifact and predict one step from ``window``
    (lag values, [0] = most recent). Anything else raises ValueError — the
    blob is input read back from storage."""
    import pickle

    m = pickle.loads(blob)
    kind = m.get("kind") if isinstance(m, dict) else type(m).__name__
    if kind != "gbt":
        raise ValueError(f"not a GBT model artifact (kind={kind!r})")
    forest = Forest(
        feat=m["feat"], thr=m["thr"], left=m["left"], right=m["right"],
        val=m["val"], is_leaf=m["is_leaf"], roots=m["roots"],
        base=m["base"], learning_rate=m["lr"], max_depth=m["max_depth"],
    )
    return float(
        forest.predict_rows(np.zeros(1, dtype=np.int64), window[None, :])[0]
    )


# ---------------------------------------------------------------------------
# Correlation matrix, set-based and exact (OP-30/OP-67)
# ---------------------------------------------------------------------------


def corr_pairs_exact(long_df: DataFrame) -> DataFrame:
    """Pairwise Pearson correlations per key over a long (key, ts, feature,
    value) table: self-join on (key, ts) for f1 < f2 (pandas-style pairwise-
    complete observations), accumulate the five moments in DECIMAL (exact,
    order-independent), apply the closed form in double. One shuffle on
    (key, ts); n² pairs never materialize beyond the per-hour join."""
    a = long_df.select(
        F.col("symbol"), F.col("day_ts"), F.col("feature").alias("f1"), F.col("value").alias("x")
    )
    b = long_df.select(
        F.col("symbol"), F.col("day_ts"), F.col("feature").alias("f2"), F.col("value").alias("y")
    )
    pairs = a.join(b, ["symbol", "day_ts"]).filter(F.col("f1") < F.col("f2"))
    dec = lambda c: c.cast(EXACT_DECIMAL)  # noqa: E731
    m = pairs.groupBy("symbol", "f1", "f2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round(F.try_divide(num, F.sqrt(vx) * F.sqrt(vy)), 9),
    )
    return m.filter(F.col("n") >= CORR_MIN_N).select(
        "symbol", "f1", "f2", "n", corr.alias("corr")
    )
