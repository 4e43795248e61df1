"""Cleaning operators (OP-11..OP-13, OP-15).

Reference semantics (preprocess_function/main.py:13-15,21-23,29-31,38-40):
``pd.to_datetime(errors="coerce")`` then ``drop_duplicates()`` then
``dropna()`` on each source. Re-expressed as Catalyst expressions so the
whole cleaning pass stays inside whole-stage codegen — no Python in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_timestamp(df: DataFrame) -> DataFrame:
    """OP-11 — ``pd.to_datetime(ts, errors='coerce')``: unparseable -> NULL.

    ``try_to_timestamp`` is exactly the coerce semantics (non-ANSI cast);
    invalid strings become NULL instead of raising.
    """
    return df.withColumn("parsed_ts", F.try_to_timestamp(F.col("ts_str")))


def hour_floor(col: str | Column) -> Column:
    """OP-12 — ``to_datetime(utc=True).dt.floor('H')`` (integrate/main.py:55-57)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("hour", c)


def dedup_exact(df: DataFrame) -> DataFrame:
    """OP-13 — full-row ``drop_duplicates()`` (preprocess_function/main.py:14).

    Spark plans this as a hash aggregate on all columns: map-side partial
    dedup, then one shuffle on the full row hash — scales linearly.
    """
    return df.dropDuplicates()


def filter_cutoff(df: DataFrame, ts_col: str, cutoff: str) -> DataFrame:
    """OP-15 — history-window predicate (integrate/main.py:60-67).

    A plain comparison so Catalyst pushes it into the parquet scan
    (row-group stats pruning); on a date-partitioned table this is physical
    partition pruning — the 100 TB fast path.
    """
    return df.filter(F.col(ts_col) >= F.lit(cutoff).cast("timestamp"))
