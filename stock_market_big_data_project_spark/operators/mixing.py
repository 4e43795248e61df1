"""Training-mixture allocation across corpus sources.

A multi-source training run must decide how many tokens to draw from each
source. UniMax (Chung et al. 2023, "UniMax: Fairer and More Effective
Language Sampling for Large-Scale Multilingual Pretraining") allocates a
total token budget as UNIFORMLY as possible across sources subject to a
per-source cap of `epochs × source_tokens` — the waterfilling solution:
small sources are taken whole (up to the epoch cap), the remaining budget
is split evenly among the rest. Unlike temperature sampling (weights
∝ n^α — a transcendental `pow` whose last ulp is libm-dependent), the
waterfill is pure integer arithmetic, so the allocation is bit-exact and
cross-engine verifiable, the same reason `token_weighted_systematic_sample`
uses systematic resampling instead of exponential keys.

Closed form instead of the iterative waterfill loop: sort sources
ascending by (cap, key); a source is capped iff its cap fits the uniform
share of the budget remaining at its position — a condition that is
prefix-closed under this order (if source i+1 is capped, so is the
smaller source i), so the cap/share boundary `m` is a single windowed
max and the whole allocation is one pass of window functions over the
per-source table. That table has one row per SOURCE (dozens to
thousands), so the unpartitioned windows here are driver-size by
construction — the corpus-sized work is only the upstream per-source
token aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def unimax_waterfill(
    counts: DataFrame,
    key_col: str,
    budget,
    epochs: int = 1,
) -> DataFrame:
    """Allocate `budget` tokens across sources, capping each at
    `epochs * n_tokens`, as uniformly as possible (UniMax waterfilling).

    `budget` is a Column expression evaluated against the counts table
    (so it can be derived from the corpus itself, e.g.
    ``(19 * F.sum("n_tokens").over(whole)) DIV 20`` — no 1-row join needed)
    or a plain integer literal.

    Output: (key, n, cap, alloc) with SUM(alloc) == min(budget, SUM(cap))
    exactly: capped sources get their full cap; the others split the
    remainder by integer division, the first `remainder MOD k` of them in
    (cap, key) order getting one extra token. Deterministic total order →
    bit-exact across engines and partitionings.
    """
    whole = Window.partitionBy()
    order = Window.partitionBy().orderBy("cap", "key")
    b = F.lit(budget) if isinstance(budget, int) else budget
    # budget is evaluated in the SAME select that renames, so an
    # expression like `sum(n_tokens) over ()` resolves against the
    # caller's column names
    base = counts.select(
        F.col(key_col).alias("key"),
        F.col("n_tokens").cast("long").alias("n"),
        (F.col("n_tokens").cast("long") * epochs).alias("cap"),
        b.cast("long").alias("t"),
    )
    o = base.select(
        "key",
        "n",
        "cap",
        "t",
        F.row_number().over(order).alias("i"),
        F.count(F.lit(1)).over(whole).alias("s"),
        F.sum("cap").over(order).alias("pref"),  # inclusive prefix
    )
    # capped iff the cap fits the uniform share of the budget remaining
    # at this position (prefix-closed under the (cap, key) sort)
    c = o.withColumn(
        "ci",
        F.when(
            F.col("cap") * (F.col("s") - F.col("i") + 1)
            <= F.col("t") - (F.col("pref") - F.col("cap")),
            F.col("i"),
        ).otherwise(F.lit(0)),
    )
    m = c.withColumn("m", F.max("ci").over(whole))
    fin = (
        m.withColumn(
            "pref_m",
            F.max(
                F.when(F.col("i") == F.col("m"), F.col("pref")).otherwise(
                    F.lit(0)
                )
            ).over(whole),
        )
        # l >= 0 because pref_m <= t by the capped condition at i == m;
        # k == 0 only when every source is capped, in which case the
        # otherwise-branch below is never evaluated (CaseWhen is lazy per
        # row), so the `div`/`%` by zero cannot fire.
        .withColumn("l", F.col("t") - F.col("pref_m"))
        .withColumn("k", F.col("s") - F.col("m"))
    )
    alloc = F.when(F.col("i") <= F.col("m"), F.col("cap")).otherwise(
        F.expr("l div k")  # integer floor division, both operands >= 0
        + F.when(
            F.col("i") - F.col("m") <= F.expr("l % k"), F.lit(1)
        ).otherwise(F.lit(0))
    )
    return fin.select(
        F.col("key").alias(key_col),
        F.col("n").alias("n_tokens"),
        "cap",
        alloc.cast("long").alias("alloc"),
    )
