"""A market-quote feed as a PySpark Python DataSource (Spark 4's
`pyspark.sql.datasource` API) — batch AND streaming.

The reference ingests quotes by polling external HTTP APIs on a
scheduler (finnhub/main.py:10-23, yahoo/main.py:9-19 et al.); this
sandbox has no network, so the feed is a DETERMINISTIC synthetic
generator — but the integration mechanism is the real one: a custom
`DataSource` registered with `spark.dataSource.register`, readable as
`spark.read.format("quote_feed")` and `spark.readStream.format(...)`.
Swapping the row generator for an HTTP client turns this into the
reference's live pollers with zero plan changes — partition-parallel
fetch, offset-tracked micro-batches, replayable from any offset.

Every generated value is an md5-derived function of the row index,
reproducible in SQL (`oracle_md5_hash64` formula), so even this custom
Python source is DuckDB-hash-checkable end to end — the driver-style
parity gate extends all the way into the ingestion adapter.

Determinism/replay contract: row i is a pure function of i. The stream
reader's offset IS the row index, so a restarted/replayed micro-batch
[start, end) regenerates byte-identical rows — the property Structured
Streaming needs from a source for exactly-once sinks.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_BASE_TS = datetime(2024, 1, 1, 0, 0, 0)
_SYMBOLS = 5
_TYPES = ("quote", "trade")


def _h(i: int) -> int:
    """60-bit md5 hash of the row index — the same construction as
    operators/text.py::md5_hash64 / oracle_md5_hash64."""
    return int(hashlib.md5(f"feed:{i}".encode()).hexdigest()[:15], 16)


def _row(i: int):
    h = _h(i)
    return (
        i,
        _BASE_TS + timedelta(seconds=i),
        f"S{h % _SYMBOLS}",
        _TYPES[(h // _SYMBOLS) % len(_TYPES)],
        (h % 1_000_000) / 10_000.0,
    )


def feed_oracle_sql(n: int) -> str:
    """The DuckDB twin of `_row` over [0, n) — lets any query over the
    feed source carry a full hash-parity oracle."""
    return f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i) AS ts,
             'S' || CAST(h % {_SYMBOLS} AS VARCHAR) AS symbol,
             CASE WHEN (h // {_SYMBOLS}) % 2 = 0 THEN 'quote'
                  ELSE 'trade' END AS event_type,
             (h % 1000000) / 10000.0 AS value
      FROM (
        SELECT i, CAST(('0x' || substr(md5('feed:' || CAST(i AS VARCHAR)),
                                       1, 15)) AS BIGINT) AS h
        FROM range(0, {n}) t(i)
      )
    """


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


def _read_range(start: int, end: int):
    for i in range(start, end):
        yield _row(i)


class QuoteFeedBatchReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 500))
        self.n_parts = int(options.get("numPartitions", 4))

    def partitions(self):
        step = max(1, -(-self.n // self.n_parts))
        return [
            _Range(s, min(s + step, self.n))
            for s in range(0, self.n, step)
        ]

    def read(self, partition: _Range):
        return _read_range(partition.start, partition.end)


class QuoteFeedStreamReader(DataSourceStreamReader):
    """Offset = next unread row index; `latestOffset` reports everything
    the feed currently has (`n`). The scheduler-driven poll pattern is
    one `Trigger.AvailableNow` run per tick against a SHARED checkpoint
    with a growing `n` — each tick ingests exactly the rows that
    "arrived" since the last committed offset (Spark passes the
    committed index as the batch start), which is the reference's
    cron-poller shape with exactly-once replay for free."""

    def __init__(self, options):
        self.n = int(options.get("n", 500))
        self.n_parts = int(options.get("numPartitions", 4))

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        return {"index": self.n}

    def partitions(self, start, end):
        s, e = start["index"], end["index"]
        if e <= s:
            return [_Range(s, s)]
        step = max(1, -(-(e - s) // self.n_parts))
        return [_Range(a, min(a + step, e)) for a in range(s, e, step)]

    def read(self, partition: _Range):
        return _read_range(partition.start, partition.end)

    def commit(self, end):
        pass

    def stop(self):
        pass


class QuoteFeedDataSource(DataSource):
    @classmethod
    def name(cls):
        return "quote_feed"

    def schema(self):
        return (
            "event_id bigint, ts timestamp, symbol string, "
            "event_type string, value double"
        )

    def reader(self, schema):
        return QuoteFeedBatchReader(self.options)

    def streamReader(self, schema):
        return QuoteFeedStreamReader(self.options)


def register_feed(spark) -> None:
    """Idempotent registration of the quote_feed format."""
    spark.dataSource.register(QuoteFeedDataSource)
