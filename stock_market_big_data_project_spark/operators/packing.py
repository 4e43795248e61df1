"""Shard packing by cumulative token budget — the "write side" of a
training-data pipeline: documents stream into fixed-token-budget shards in
a deterministic order, so a trainer can address shard k without scanning
the corpus.

The interesting part is the prefix sum. The naive form — one global
`Window.orderBy(id)` cumsum — moves EVERY row into a single partition
(Spark's no-partition window), which is exactly the kind of plan that
works at sf0.1 and dies at 100 TB. This module does the classic
distributed two-pass prefix sum instead:

1. range-partition by the order key (partition p holds a contiguous key
   range, partition order == key order) and PIN that partitioning with a
   lazy localCheckpoint — the range boundaries come from sampling, so
   every downstream consumer must observe the SAME boundaries (relying on
   ReuseExchange to dedup the sampled shuffle would silently misalign the
   offsets if plan canonicalization ever diverged);
2. per-partition interior cumsum — one Arrow `mapInPandas` pass, sorted
   and summed inside each partition, no shuffle, no cross-partition
   window;
3. per-partition totals (one tiny row per partition) get their cumulative
   offsets via a single window over ≤ thousands of rows and broadcast-join
   back.

Total cost: one range shuffle (materialized once by the checkpoint) + one
narrow Arrow pass + a partition-count-sized aggregate + one broadcast.
No row leaves its range partition after the initial shuffle, and the
telescoped offset + interior sum equals the serial cumsum under ANY
boundary placement (tests assert this at 1/7/32 partitions).

`val_col` must be an integral type: int64 accumulation is exact and
order-independent, so the distributed sum is bit-equal to the serial one.
A float column is rejected loudly rather than silently reassociated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import DOC_ID

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# Tokens per shard in `pack_token_shards`.
SHARD_TOKEN_BUDGET = 4096


def prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive prefix sum of `val_col` in `order_col` order, distributed
    via the two-pass scheme above. `order_col` values must be unique (they
    define the total order); `val_col` must be integral (see module
    docstring)."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    if not isinstance(df.schema[val_col].dataType, _INTEGRAL):
        raise TypeError(
            f"prefix_sum requires an integral val_col for exact, "
            f"order-independent accumulation; got "
            f"{df.schema[val_col].dataType.simpleString()!r}. Rescale to "
            f"integers (or build a decimal variant) instead of silently "
            f"reassociating float additions."
        )
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = df.columns
    # pin the sampled range boundaries: both consumers below must see the
    # identical partitioning
    parted = df.repartitionByRange(n_parts, F.col(order_col)).localCheckpoint(
        eager=False
    )

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema]
        + ["_cum_in bigint", "_part int"]
    )

    # The whole partition is buffered to sort + cumsum it — the same
    # working set a sort-based task holds; range partitions are sized by
    # num_partitions for exactly this.
    def interior_cumsum(batches):
        pid = TaskContext.get().partitionId()
        rows = [pdf for pdf in batches if not pdf.empty]
        if not rows:
            return
        pdf = pd.concat(rows).sort_values(order_col).reset_index(drop=True)
        pdf["_cum_in"] = np.cumsum(pdf[val_col].to_numpy(dtype="int64"))
        pdf["_part"] = pid
        yield pdf

    interior = parted.mapInPandas(interior_cumsum, schema=schema)
    offsets = (
        interior.groupBy("_part")
        .agg(F.sum(val_col).cast("bigint").alias("_part_sum"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_part_sum").over(
                    Window.orderBy("_part").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_part", "_offset")
    )
    return (
        interior.join(F.broadcast(offsets), "_part")
        .withColumn(out_col, (F.col("_offset") + F.col("_cum_in")).cast("bigint"))
        .select(*cols, out_col)
    )


def pack_token_shards(df: DataFrame) -> DataFrame:
    """Assign each document to a shard by cumulative token count in
    `doc_id` order: shard k holds the docs whose cumulative-start offset
    falls in [k·B, (k+1)·B) for B = SHARD_TOKEN_BUDGET. A document never
    splits; a shard can exceed the budget by at most one document's
    tokens — the standard greedy packing a sequential writer would
    produce, reproduced deterministically and in parallel."""
    cum = prefix_sum(df, DOC_ID, "n_tokens", out_col="cum_tokens")
    return cum.withColumn(
        "shard_id",
        F.floor(
            (F.col("cum_tokens") - F.col("n_tokens")) / F.lit(SHARD_TOKEN_BUDGET)
        ).cast("int"),
    )


def pack_sequences_ffd(
    df: DataFrame,
    capacity: int = 512,
    n_shards: int = 64,
) -> DataFrame:
    """Pack variable-length documents into fixed-`capacity` training
    sequences with first-fit-decreasing bin packing — the padding-
    minimization step between "tokenize" and "write shards" in an LLM
    data pipeline (short documents share a sequence instead of each
    wasting a capacity-sized row).

    Distributed shape: documents hash deterministically into `n_shards`
    groups (md5 of the id, layout/rerun-invariant — the stratified-
    sampler idiom), and FFD runs INDEPENDENTLY per shard in one Arrow
    `applyInPandas` pass — bin packing is inherently sequential, so the
    sequential unit is kept shard-sized, never corpus-sized; shards scale
    with the corpus while per-shard work stays bounded. The global
    answer is deterministic because shard assignment and the in-shard
    FFD order (length desc, id asc) are both data-derived — no
    partitioning or run-order dependence (asserted in tests).

    FFD itself is the classic 11/9·OPT+6/9 guarantee; anything smarter
    (e.g. global best-fit) would serialize the corpus. Documents longer
    than `capacity` occupy a sequence alone, truncated to `capacity`
    (flagged): splitting belongs to the chunking operator upstream
    (`text.token_chunks`).

    Output: (id, len, shard, seq, offset, truncated) — `seq` is unique
    per (shard, local bin), `offset` the token position inside the
    sequence; per-sequence fill = Σ len ≤ capacity by construction."""
    import pandas as pd

    from ..operators.text import md5_hash64
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    in_schema = df.schema
    out_schema = StructType(
        [
            in_schema[DOC_ID],
            StructField("len", LongType(), False),
            StructField("shard", IntegerType(), False),
            StructField("seq", LongType(), False),
            StructField("offset", LongType(), False),
            StructField("truncated", BooleanType(), False),
        ]
    )

    sharded = df.select(
        F.col(DOC_ID),
        F.col("n_tokens").cast("long").alias("_len"),
        F.pmod(
            md5_hash64(F.concat(F.lit("seqpack:"), F.col(DOC_ID).cast("string"))),
            F.lit(n_shards),
        )
        .cast("int")
        .alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        rows = sorted(
            zip(pdf[DOC_ID].tolist(), pdf["_len"].tolist()),
            key=lambda r: (-min(r[1], capacity), r[0]),
        )
        bins: list[int] = []  # remaining capacity per bin
        out = []
        for rid, rlen in rows:
            use = min(rlen, capacity)
            placed = None
            for b, rem in enumerate(bins):
                if rem >= use:
                    placed = b
                    break
            if placed is None:
                placed = len(bins)
                bins.append(capacity)
            out.append(
                (
                    rid,
                    rlen,
                    shard,
                    # seq unique per (shard, local bin): 64-bit compose —
                    # bins per shard can't exceed rows per shard, and a
                    # shard holding 2^32 docs would be mis-sharded long
                    # before this aliases (vs the old decimal-base compose
                    # which silently collided past 10M bins).
                    (shard << 32) | placed,
                    capacity - bins[placed],
                    rlen > capacity,
                )
            )
            bins[placed] -= use
        return pd.DataFrame(
            out,
            columns=[DOC_ID, "len", "shard", "seq", "offset", "truncated"],
        )

    return sharded.groupBy("shard").applyInPandas(pack, schema=out_schema)
