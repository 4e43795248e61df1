"""Window / time-series operators (OP-38..OP-44, SURVEY.md §2.5).

The reference computes per-symbol returns with ``pct_change()`` / ``shift``
on time-sorted pandas frames (integrate/main.py:119-121,
analysis_part/main.py:83-85). Here every one is a Catalyst window keyed by
symbol — one shuffle, then all lags/leads/ranks evaluate in a single window
stage; the global sorts the reference needs disappear (ORDER BY lives inside
the frame spec).

Determinism: all windows order by (ts, tiebreak) — a unique tiebreak column —
so results are stable under any shuffle order (and match the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

# The reference's forecaster settings (analysis_part/main.py:83-93): 24 lag
# features and an 80/20 temporal train/test split.
N_LAGS = 24
TRAIN_FRAC = 0.8


def key_window(key_col: str, ts_col: str, tiebreak: str | None = None) -> WindowSpec:
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    return Window.partitionBy(key_col).orderBy(*order)


def pct_change(
    df: DataFrame, key_col: str, ts_col: str, val_col: str, out: str = "ret_1h",
    tiebreak: str | None = None,
) -> DataFrame:
    """OP-38 — ``c.pct_change()`` per key. pandas computes it as
    ``v / shift(v) − 1`` (divide-then-subtract), which differs from
    ``(v − shift(v)) / shift(v)`` by an ulp — this uses pandas' exact form
    so the differential tests match bitwise."""
    w = key_window(key_col, ts_col, tiebreak)
    prev = F.lag(val_col, 1).over(w)
    # try_divide: NULL on zero divisor regardless of ANSI mode — matches both
    # the DuckDB oracle and pandas' inf-free cleaned path.
    return df.withColumn(out, F.try_divide(F.col(val_col), prev) - 1)


def lead_col(
    df: DataFrame, key_col: str, ts_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """OP-39 — ``shift(-1)`` next-period label."""
    w = key_window(key_col, ts_col, tiebreak)
    return df.withColumn("ret_1h_next", F.lead("ret_1h", 1).over(w))


def lag_features(df: DataFrame) -> DataFrame:
    """OP-40 — lag-feature fan-out ``c.shift(k) for k in 1..n`` then drop
    warm-up rows (analysis_part/main.py:83-85). All lags share one window
    spec -> single shuffle + single sort, however many features.
    """
    w = key_window("user_id", "ts", "event_id")
    out = df.select(
        "*", *[F.lag("value", k).over(w).alias(f"value_lag{k}") for k in range(1, N_LAGS + 1)]
    )
    return out.na.drop(subset=[f"value_lag{N_LAGS}"])


def latest_per_key(df: DataFrame) -> DataFrame:
    """OP-32/OP-41 — argmax-per-group (latest row per symbol,
    dashboard/app.py:173-174) via ``max_by`` on a struct: one hash aggregate
    with map-side partial combine — cheaper than row_number's full sort at
    scale.
    """
    order = F.struct(F.col("ts"), F.col("event_id"))
    others = [c for c in df.columns if c != "user_id"]
    agg = [F.max_by(F.col(c), order).alias(c) for c in others]
    return df.groupBy("user_id").agg(*agg)


def temporal_split_flag(df: DataFrame) -> DataFrame:
    """OP-44 — 80/20 positional split on time-sorted rows per key
    (analysis_part/main.py:91-93): first floor(0.8*n) rows are train (int
    truncation), exactly pandas' ``iloc[:int(len*0.8)]`` boundary.
    """
    w = key_window("user_id", "ts", "event_id")
    cnt = Window.partitionBy("user_id")
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(cnt)
    return df.withColumn("is_train", rn <= F.floor(n * F.lit(TRAIN_FRAC)).cast("int"))
