"""End-to-end integrate chain (SURVEY.md §3.2, entry point B).

The reference runs preprocess → integrate as two HTTP functions coupled by
GCS CSVs, with a serial per-symbol loop (integrate/main.py:95-128). Here the
whole chain is ONE lazy Catalyst DAG over the events stream:

    clean (dedup + coerce + cutoff)
      → per-source hourly last-value tables   (quote/yahoo/trends analogs)
      → macro hourly table, forward-filled    (FRED analog, market-wide)
      → composite-key left joins              (symbol, hour) + broadcast macro
      → c-notnull filter → per-(symbol, day) mean imputation
      → ret_1h / ret_1h_next windows

Source mapping (FIXTURES.md Part B): click→quote `c`, view→yahoo `close`,
signup→trends `trend_score`, purchase→macro indicator (keyed on hour only,
like FRED's one-row-for-every-symbol join, integrate/main.py:105-107).

Scale notes: every per-source aggregate and the final windows share the
(symbol, hour)/(symbol) partitioning, so Catalyst plans one shuffle per
stage key; the macro table is hours-sized → broadcast join; the cutoff
filter is pushed into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.cleaning import dedup_exact, hour_floor
from .operators.timegrid import pivot_last
from .operators.windows import lead_col, pct_change
from .sources.tables import load_events

CUTOFF = "2024-01-05 00:00:00"


def build_integrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integrated_all analog: one wide hourly row per (symbol, hour)."""
    ev = dedup_exact(load_events(spark, sf_dir, min_ts=CUTOFF)).withColumn(
        "hour_ts", hour_floor("ts")
    )

    # The reference's long→wide (integrate/main.py:70-71) as ONE pivot over
    # the composite (symbol, hour) key — one shuffle replaces three per-source
    # aggregates plus two (symbol, hour) merge joins. OP-27 (pivot with
    # positional-last) is exercised here on the driver path.
    wide = pivot_last(
        ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
            F.col("user_id").alias("symbol"),
            "hour_ts", "event_type", "value", "ts", "event_id",
        ),
        ts_col=["symbol", "hour_ts"],
        keys=["click", "view", "signup"],
    )
    quotes = wide.select(
        "symbol", "hour_ts",
        F.col("click").alias("c"),
        F.col("view").alias("close"),
        F.col("signup").alias("trend_score"),
    )

    # FRED analog: market-wide hourly indicator, forward-filled over the
    # dense hour grid spanned by the quotes table (integrate/main.py:70-74).
    macro_obs = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("hour_ts")
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("macro_raw"))
    )
    # Grid span = the quotes (click) table's hour range, exactly as the
    # oracle's `FROM quotes` CTE: min/max over the click *groups* equals
    # min/max over the underlying click rows, so no extra aggregate over the
    # pivot output (which also holds view/signup-only hours) is needed.
    bounds = ev.filter(F.col("event_type") == "click").agg(
        F.min("hour_ts").alias("tmin"), F.max("hour_ts").alias("tmax")
    )
    grid = bounds.select(
        F.explode(F.sequence("tmin", "tmax", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_ts"
        )
    )
    wff = Window.orderBy("hour_ts").rowsBetween(Window.unboundedPreceding, 0)
    macro = (
        grid.join(macro_obs, "hour_ts", "left")
        .withColumn("macro_purchase", F.last("macro_raw", ignorenulls=True).over(wff))
        .drop("macro_raw")
    )

    merged = quotes.join(F.broadcast(macro), "hour_ts", "left").filter(
        F.col("c").isNotNull()
    )

    # per-(symbol, day) mean imputation of the yahoo column
    # (integrate/main.py:114-117), rounded 6dp — windowed-mean accumulation
    # order is engine-specific.
    wday = Window.partitionBy("symbol", F.date_trunc("day", F.col("hour_ts")))
    merged = merged.withColumn(
        "close", F.round(F.coalesce(F.col("close"), F.avg("close").over(wday)), 6)
    )

    merged = pct_change(merged, "symbol", "hour_ts", "c", out="ret_1h")
    merged = lead_col(merged, "symbol", "hour_ts")
    return merged.select(
        "symbol", "hour_ts", "c", "close", "trend_score", "macro_purchase",
        "ret_1h", "ret_1h_next",
    )


INTEGRATED_ORACLE = f"""
WITH clean AS (
  SELECT DISTINCT *, date_trunc('hour', ts) AS hour_ts FROM events
  WHERE ts >= TIMESTAMP '{CUTOFF}'
), quotes AS (
  SELECT user_id AS symbol, hour_ts, last(value ORDER BY ts, event_id) AS c
  FROM clean WHERE event_type = 'click' GROUP BY 1, 2
), yahoo AS (
  SELECT user_id AS symbol, hour_ts, last(value ORDER BY ts, event_id) AS close
  FROM clean WHERE event_type = 'view' GROUP BY 1, 2
), trends AS (
  SELECT user_id AS symbol, hour_ts,
         last(value ORDER BY ts, event_id) AS trend_score
  FROM clean WHERE event_type = 'signup' GROUP BY 1, 2
), macro_obs AS (
  SELECT hour_ts, last(value ORDER BY ts, event_id) AS macro_raw
  FROM clean WHERE event_type = 'purchase' GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(min(hour_ts), max(hour_ts), INTERVAL 1 HOUR))
           AS hour_ts
  FROM quotes
), macro AS (
  SELECT g.hour_ts,
         LAST_VALUE(m.macro_raw IGNORE NULLS) OVER (
           ORDER BY g.hour_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS macro_purchase
  FROM grid g LEFT JOIN macro_obs m USING (hour_ts)
), merged AS (
  SELECT q.symbol, q.hour_ts, q.c, y.close, t.trend_score, mc.macro_purchase
  FROM quotes q
  LEFT JOIN yahoo y USING (symbol, hour_ts)
  LEFT JOIN trends t USING (symbol, hour_ts)
  LEFT JOIN macro mc USING (hour_ts)
  WHERE q.c IS NOT NULL
), imputed AS (
  SELECT symbol, hour_ts, c,
         round(COALESCE(close,
                        avg(close) OVER (PARTITION BY symbol,
                                         date_trunc('day', hour_ts))), 6)
           AS close,
         trend_score, macro_purchase
  FROM merged
), ret AS (
  SELECT *,
         c / lag(c) OVER w - 1 AS ret_1h
  FROM imputed
  WINDOW w AS (PARTITION BY symbol ORDER BY hour_ts)
)
SELECT symbol, hour_ts, c, close, trend_score, macro_purchase, ret_1h,
       lead(ret_1h) OVER (PARTITION BY symbol ORDER BY hour_ts) AS ret_1h_next
FROM ret
"""
