"""Incremental upsert/MERGE — the scale alternative to full recompute.

The reference handles late/changed data by reprocessing every table from
scratch each run (preprocess_function/main.py:14-39 — read-all,
drop_duplicates, rewrite-all; OP-63). That is O(history) per update. The
incremental form is O(delta): fold a batch of keyed updates (upserts +
tombstones) into the previous snapshot, keeping the latest version per key
— Delta Lake's MERGE semantics expressed as one window over the union.

At 100 TB: one shuffle on the merge key, sized by what the caller feeds
in. The O(delta) contract therefore depends on the CALLER restricting the
snapshot side to the partitions the delta touches (partition-prune the
snapshot scan on the delta's key/date range, rewrite only those
partitions); the union window shuffles everything it is given, so feeding
full history would forfeit the win.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    delete_col: str | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Latest-version-per-key MERGE of `updates` into `base`.

    - A key present in both sides keeps the row with the highest `ts`;
      on an exact timestamp tie the update wins (source tag is the
      tie-break), matching MERGE's "update overrides existing" contract.
      `tiebreak` columns (e.g. a unique row id, descending) make the order
      total when one side can carry several equal-timestamp versions.
    - `delete_col` (boolean) marks tombstones: if the winning version of a
      key is a tombstone, the key is dropped from the snapshot.
    - Columns are aligned by name; the output schema is `base`'s schema.
    """
    cols = base.columns
    if delete_col is None:
        delete_flag_base = F.lit(False)
        delete_flag_upd = F.lit(False)
    else:
        delete_flag_base = F.coalesce(F.col(delete_col), F.lit(False))
        delete_flag_upd = delete_flag_base
    tagged = base.select(
        *cols, F.lit(0).alias("_src"), delete_flag_base.alias("_del")
    ).unionByName(
        updates.select(
            *cols, F.lit(1).alias("_src"), delete_flag_upd.alias("_del")
        )
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("ts").desc(),
        F.col("_src").desc(),
        *[F.col(c).desc() for c in tiebreak],
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("_del"))
        .select(*cols)
    )
