"""Skew mitigation (SURVEY.md §7 "What's hard" #5: hot symbols at scale).

AQE's skew-join splitting handles most cases at runtime
(`spark.sql.adaptive.skewJoin.enabled`, on in session.py); these utilities
are the explicit fallback for the cases AQE cannot see:

- a broadcast-immune skewed *equi-join* (both sides too big to broadcast,
  one key carries 10% of the rows) → `salted_join`: the big side gets a
  deterministic salt derived from a high-cardinality column, the small
  side is exploded `n_salts`× — the hot key's rows now land on `n_salts`
  tasks instead of one.
- a skewed *window / groupBy key* → `two_stage_agg`: partial aggregate on
  (key, salt) first, final aggregate on key — the classic combiner split
  for algebraic aggregates.

Both are pure plan rewrites: results are row-identical to the unsalted
form (tests/test_skew.py asserts equality), only the shuffle layout
changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Measured crossover (bench.py's 3-point skew sweep, sf0.1 fixture,
# local[32], r8 — amp 10/50/200 ⇒ 1M/5M/20M fact rows at 50%-hot):
# salted 1.13/3.40/10.63 s vs unsalted 1.06/3.58/13.00 s. Below ~5M rows
# the salt's extra map work and the n_salts× dim replication cost more
# than the hot task saves (a wash or a small loss); from ~5M rows at a
# ≥50%-hot key the single hot task IS the stage wall and salting pays
# 5-18%, growing with volume. The thresholds encode that sweep so plans
# make the call in code instead of prose (VERDICT r8 #7).
SALTING_MIN_ROWS = 5_000_000
SALTING_MIN_HOT_FRAC = 0.25


def choose_salting(
    n_rows: int,
    hot_frac: float,
    n_salts: int = 16,
) -> int:
    """The salting decision rule: returns the salt count a plan should
    use — ``n_salts`` when the measured crossover says splitting the hot
    key pays, else 0 (meaning: join/aggregate unsalted and let AQE's
    skew-join handle residual imbalance).

    ``n_rows`` is the (estimated) fact-side row count, ``hot_frac`` the
    share of rows on the hottest key (from a heavy-hitter probe — the
    count-min query is the cheap way to get it at scale). Both thresholds
    are module constants next to the sweep that produced them; re-run
    bench.py's skew sweep after hardware or Spark upgrades and update the
    constants if the crossover moves.
    """
    if n_rows >= SALTING_MIN_ROWS and hot_frac >= SALTING_MIN_HOT_FRAC:
        return n_salts
    return 0


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the hot-key shuffle split `n_salts` ways.

    `big` rows get salt = pmod(hash(salt_source or whole-row), n_salts);
    `small` rows are replicated once per salt via a tiny posexplode — its
    shuffle volume grows n_salts×, which is the price of splitting the hot
    key. Join keys become (on, salt). Use when BOTH sides are too big to
    broadcast and AQE's post-shuffle splitting can't help (e.g. the skew
    is inside an aggregation feeding the join).

    Only ``inner`` and ``left`` preserve row-identity with the unsalted
    join: the small side is replicated ``n_salts``×, so a right/full outer
    join would emit each UNMATCHED small-side row once per salt. Those
    modes are rejected rather than silently wrong.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "outer modes would duplicate unmatched small-side rows "
            "n_salts times"
        )
    if n_salts <= 1:
        # choose_salting said "don't" — the plain equi-join is the same
        # rows with none of the replication cost
        return big.join(small, on, how)
    salt_col = (
        F.hash(F.col(salt_source)) if salt_source else F.hash(*[F.col(c) for c in big.columns])
    )
    b = big.withColumn("_salt", F.pmod(salt_col, F.lit(n_salts)))
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = b.join(s, [on, "_salt"], how)
    return out.drop("_salt")


def two_stage_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-safe sum/count aggregation: partial agg on (keys, salt), final
    agg on keys. Decimal-exact for sums (order-independent), counts exact.
    Returns one row per key with `sum_<col>` and `n_rows` columns.

    ``n_salts <= 1`` (choose_salting's "don't" verdict) degenerates to the
    single-stage aggregate — identical rows (decimal sums are
    order-independent), no salt column, one shuffle."""
    if n_salts <= 1:
        return df.groupBy(*keys).agg(
            *[
                F.sum(F.col(c).cast("decimal(38,6)"))
                .cast("double")
                .alias(f"sum_{c}")
                for c in sum_cols
            ],
            F.count(F.lit(1)).alias("n_rows"),
        )
    salt_col = (
        F.hash(F.col(salt_source)) if salt_source else F.hash(*[F.col(c) for c in df.columns])
    )
    partial = (
        df.withColumn("_salt", F.pmod(salt_col, F.lit(n_salts)))
        .groupBy(*keys, "_salt")
        .agg(
            *[
                F.sum(F.col(c).cast("decimal(38,6)")).alias(f"_p_{c}")
                for c in sum_cols
            ],
            F.count(F.lit(1)).alias("_p_n"),
        )
    )
    return partial.groupBy(*keys).agg(
        *[
            F.sum(F.col(f"_p_{c}")).cast("double").alias(f"sum_{c}")
            for c in sum_cols
        ],
        F.sum("_p_n").alias("n_rows"),
    )
