"""Seeded input generator: an `events` table shaped like the engine's fixtures.

Schema (as the fixtures store it): event_id int64, ts timestamp, user_id
int64 (the symbol), event_type string, value double, props string. The
generator only uses numpy's PCG64 stream and pyarrow's writer with fixed
settings, so one seed always gives byte-identical files.

Edge cases carried by every shape (FIXTURES.md "Edge cases"):
- exact duplicate rows (whole-row copies, event_id included);
- rows before the integrate cutoff (2024-01-05);
- key skew: symbols drawn from a Zipf-like law;
- short series: the Zipf tail, plus (per shape) symbols with only 2-6 rows;
- late and out-of-order rows: in the staged stream files some rows carry an
  event time behind what earlier files already showed, either inside the
  2 h watermark (kept) or far beyond it (dropped by the stream).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
HOUR_US = 3_600_000_000
WATERMARK_US = 2 * HOUR_US  # streaming.ingest.hourly_tumbling_agg default

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """What one workload's events look like."""

    n_events: int
    n_symbols: int
    zipf_s: float  # symbol-frequency exponent: weight(rank r) ~ r^-s
    span_days: int
    dup_frac: float = 0.05
    short_symbols: int = 0  # extra symbols with only 2-6 events each
    n_files: int = 1  # >1: staged stream files with late rows
    late_frac: float = 0.0  # share of rows (files 2..n) moved behind the stream


def _symbol_counts(n: int, n_symbols: int, s: float) -> np.ndarray:
    """Rows per symbol rank: n split by the Zipf law weight(r) ~ r^-s.
    Fixed by the shape, so every seed does the same amount of work."""
    w = np.arange(1, n_symbols + 1, dtype=np.float64) ** -s
    counts = np.floor(n * w / w.sum()).astype(np.int64)
    counts[: n - counts.sum()] += 1
    return counts


def generate(shape: Shape, seed: int) -> pa.Table | list[pa.Table]:
    """Events for `shape`: one table, or one table per stream file."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = shape.n_events
    ts = np.sort(rng.integers(START_US, START_US + shape.span_days * 24 * HOUR_US, n))
    counts = _symbol_counts(n, shape.n_symbols, shape.zipf_s)
    if shape.short_symbols:
        counts = np.concatenate([counts, 2 + np.arange(shape.short_symbols) % 5])
        n = int(counts.sum())
        ts = np.sort(np.concatenate([ts, rng.integers(ts[0], ts[-1], n - len(ts))]))
    # Symbol ids follow frequency rank, so every seed hashes the same load
    # onto the same partitions; only times, types and values change.
    user = rng.permutation(np.repeat(np.arange(len(counts)), counts)).astype(np.int64) + 1
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    # Per-symbol geometric random walk, rounded to cents like the fixtures.
    steps = rng.normal(0.0, 0.01, n)
    value = np.empty(n)
    for sym in np.unique(user):
        idx = np.flatnonzero(user == sym)
        value[idx] = 100.0 * np.exp(np.cumsum(steps[idx]))
    value = np.round(value, 2)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object)
    event_id = np.arange(n, dtype=np.int64)

    cols = [event_id, ts, user, etype, value, props]
    # Exact duplicates: whole-row copies placed right behind their original.
    n_dup = int(n * shape.dup_frac)
    dup_src = np.sort(rng.choice(n, size=n_dup, replace=False))
    order = np.argsort(np.concatenate([np.arange(n), dup_src]), kind="stable")
    cols = [np.concatenate([c, c[dup_src]])[order] for c in cols]

    if shape.n_files == 1:
        return _table(cols)
    return _stream_files(cols, shape, rng)


def _stream_files(cols: list[np.ndarray], shape: Shape, rng: np.random.Generator) -> list[pa.Table]:
    """Split the time-ordered rows into files and move some rows behind the
    stream. Spark judges a row late against the watermark of the batch
    before its own (newest event time of files <= k-2, minus 2 h) and
    closes windows with the current one (files <= k-1), so a moved row is
    placed where both rules agree:

    - out of order, kept: 10-90 min behind the newest time of files <= k-1;
    - beyond the watermark, dropped: 4-12 h behind the newest time of files
      <= k-2, so its hour window ended at least 1 h before either watermark.
    """
    n = len(cols[0])
    bounds = np.linspace(0, n, shape.n_files + 1).astype(int)
    ts = cols[1]
    file_max: list[int] = []
    for f in range(shape.n_files):
        lo, hi = bounds[f], bounds[f + 1]
        if f >= 1:
            late = lo + np.flatnonzero(rng.random(hi - lo) < shape.late_frac)
            far = (rng.random(len(late)) < 0.3) & (f >= 2)
            near_ref, far_ref = max(file_max), max(file_max[:-1], default=0)
            ts[late] = np.where(
                far,
                far_ref - rng.integers(4 * HOUR_US, 12 * HOUR_US, len(late)),
                near_ref - rng.integers(HOUR_US // 6, 3 * HOUR_US // 2, len(late)),
            )
        file_max.append(int(ts[lo:hi].max()))
        # rows arrive out of order inside a file too
        perm = lo + rng.permutation(hi - lo)
        for c in cols:
            c[lo:hi] = c[perm]
    return [_table([c[bounds[f]:bounds[f + 1]] for c in cols]) for f in range(shape.n_files)]


def stream_kept(files: list[pa.Table]) -> pa.Table:
    """The rows a replay of `files` (one file per micro-batch) aggregates: a
    row of file k >= 2 is dropped when its hour window ends at or before
    the newest event time of files <= k-2 minus the watermark delay."""
    kept, file_max = [], []
    for k, t in enumerate(files):
        ts = np.asarray(t.column("ts")).astype("int64")
        if k >= 2:
            window_end = ts - ts % HOUR_US + HOUR_US
            t = t.filter(pa.array(window_end > max(file_max[:-1]) - WATERMARK_US))
        kept.append(t)
        file_max.append(int(ts.max()))
    return pa.concat_tables(kept)


def _table(cols: list[np.ndarray]) -> pa.Table:
    event_id, ts, user, etype, value, props = cols
    return pa.Table.from_arrays(
        [
            pa.array(event_id, pa.int64()),
            pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            pa.array(user, pa.int64()),
            pa.array(etype.tolist(), pa.string()),
            pa.array(value, pa.float64()),
            pa.array(props.tolist(), pa.string()),
        ],
        schema=SCHEMA,
    )


def write(table: pa.Table, path: str) -> None:
    """Write with fixed settings: same table -> same bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        table, path, compression="snappy", row_group_size=1 << 14,
        use_dictionary=True, write_statistics=True,
    )
