"""Time-grid operators: pivot-last, resample+ffill, as-of join
(OP-26..OP-28, SURVEY.md §2.4/§2.3).

The reference does ``pivot_table(aggfunc='last')`` then ``resample('1H').
ffill()`` (integrate/main.py:70-74) and uses the result as an as-of-joined
macro dimension. Spark has no native resample/ASOF; the scalable idiom is:

  1. densify: per key, ``sequence(min_ts, max_ts, interval)`` + ``explode``
     builds the hourly grid — distributed, no driver loop;
  2. carry-forward: ``last(value, ignorenulls=True)`` over an
     unbounded-preceding window partitioned by key — one shuffle on the key,
     state bounded per key, correct across partition boundaries (the window
     sees the whole key's history after the shuffle, unlike mapPartitions).

At 100 TB the window shuffle is keyed on the (small) indicator/symbol key —
macro dimensions stay tiny and the result broadcasts into the fact join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cleaning import hour_floor


def pivot_last(
    df: DataFrame,
    ts_col: str | list[str],
    keys: list[str] | None = None,
) -> DataFrame:
    """OP-27 — long->wide with positional-last tie-breaking.

    pandas ``pivot_table(aggfunc='last')`` takes the last row *in input
    order*; Spark's ``last()`` is shuffle-order-sensitive, so we use
    ``max_by(value, order)`` — deterministic and shuffle-safe. ``keys``
    (explicit pivot values) avoids the extra distinct-collect job.
    ``ts_col`` may be a list for composite group keys (e.g. (symbol, hour)),
    in which case the pivot replaces N per-key aggregates + (N−1) joins with
    ONE shuffle — the integrate chain's long→wide at scale.
    """
    group_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    order = "struct(ts, event_id)"
    grouped = df.groupBy(*group_cols)
    pivoted = grouped.pivot("event_type", keys) if keys else grouped.pivot("event_type")
    return pivoted.agg(F.expr(f"max_by(value, {order})"))


def resample_ffill(
    df: DataFrame,
    key_col: str,
    val_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """OP-28 — ``resample('1H').ffill()`` (integrate/main.py:72).

    Gap-expansion formulation: hour-floor observations (positionally-last
    per hour, matching pandas resample), then per key ``lead(hour)`` gives
    each observation its validity interval, and ``explode(sequence(hour,
    next_hour - 1h))`` emits the carried-forward grid rows directly.

    ONE shuffle (on the key, for the window) — no dense-grid build, no
    grid⋈observations join, no second carry-forward window pass. At 100 TB
    the cost is proportional to observations + emitted grid rows, and the
    forward-fill can never break at a partition boundary because each row
    carries its own value.
    """
    order = order_col or "ts"
    hourly = (
        df.withColumn("_h", hour_floor("ts"))
        .groupBy(key_col, "_h")
        .agg(*[F.expr(f"max_by({v}, {order})").alias(v) for v in val_cols])
    )
    w = Window.partitionBy(key_col).orderBy("_h")
    expanded = hourly.withColumn("_next_h", F.lead("_h").over(w)).withColumn(
        "_grid_h",
        F.explode(
            F.sequence(
                F.col("_h"),
                F.coalesce(
                    F.col("_next_h") - F.expr("INTERVAL 1 HOUR"), F.col("_h")
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    out = expanded.select(key_col, F.col("_grid_h").alias("ts"), *val_cols)
    # pandas ffill is per-column independent: a column unobserved (NULL) at
    # this observation hour still carries ITS last non-null value — one more
    # window on the same key partitioning (no extra shuffle). Applied
    # unconditionally: even with a single value column, a NULL observation
    # must fill from the previous non-null, matching resample().ffill().
    wff = (
        Window.partitionBy(key_col)
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for v in val_cols:
        out = out.withColumn(v, F.last(v, ignorenulls=True).over(wff))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    val_cols: list[str],
    right_ts_alias: str = "_asof_ts",
) -> DataFrame:
    """OP-26 — as-of join: for each left row, latest right row with
    right.ts <= left.ts, per key.

    Decomposed scalably as union + carry-forward window (one shuffle on the
    key; no range cross-join): tag sides, union, order by (ts, side) so a
    right row at the same instant is visible to the left row, ffill the
    right payload, keep left rows.

    DuckDB's native ASOF JOIN is the differential oracle for this operator.
    """
    payload = [right_ts_alias, *val_cols]
    lt = left.withColumn("_side", F.lit(1))
    for c, typ in [(right_ts_alias, "timestamp")] + [
        (v, right.schema[v].dataType.simpleString()) for v in val_cols
    ]:
        lt = lt.withColumn(c, F.lit(None).cast(typ))
    rt = right.select(key_col, "ts", *val_cols).withColumn(
        "_side", F.lit(0)
    ).withColumn(right_ts_alias, F.col("ts"))
    for c in left.columns:
        if c not in (key_col, "ts"):
            rt = rt.withColumn(c, F.lit(None).cast(left.schema[c].dataType.simpleString()))
    unioned = lt.select(*lt.columns).unionByName(rt.select(*lt.columns))
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in payload:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return unioned.filter(F.col("_side") == 1).drop("_side")
