"""Event-flow analytics — funnel conversion, cohort retention, and
semi-structured (JSON) extraction over the append-only events table.

The reference's dashboard renders per-symbol market snapshots; a
production deployment of the same engine immediately gets asked the
product-analytics questions (who converts, who returns, what's inside
the payload blob).  These are the canonical shapes:

- **funnel**: staged conversion (view → click → purchase) where each
  stage must happen AFTER the previous one — per-user conditional-min
  aggregates, no self-join explosion.
- **cohort retention**: first-seen week × activity-week-offset matrix —
  two aggregates over one scan.
- **JSON extraction**: typed values pulled out of a JSON string column
  with path expressions — the semi-structured tier.

All exact arithmetic (timestamps difference as integer microseconds,
counts, decimal sums) → full hash oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import exact_avg, oracle_exact_avg
from ..sources.tables import load_events
from .registry import register, register_local


# --------------------------------------------------------------------------
# Funnel: view -> click -> purchase, each stage strictly after the user's
# previous stage time.  The naive form is two correlated subqueries per
# user; the engine form is ONE user-keyed aggregate chain: min(view ts),
# then min(click ts > that), then min(purchase ts > that) — three
# conditional mins over the same user-keyed exchange, never a self-join.
# --------------------------------------------------------------------------
@register_local(
    "funnel_conversion_analysis",
    oracle=f"""
    WITH v AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND v.t_view IS NOT NULL
        AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ), staged AS (
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      FROM v
      LEFT JOIN c ON c.user_id = v.user_id
      LEFT JOIN p ON p.user_id = v.user_id
      WHERE v.t_view IS NOT NULL
    )
    SELECT count(*) AS n_viewed,
           count(t_click) AS n_clicked,
           count(t_purchase) AS n_purchased,
           {oracle_exact_avg("CAST(epoch_us(t_click) - epoch_us(t_view) AS BIGINT)")}
             AS avg_view_to_click_us,
           {oracle_exact_avg("CAST(epoch_us(t_purchase) - epoch_us(t_click) AS BIGINT)")}
             AS avg_click_to_purchase_us
    FROM staged
    """,
)
def funnel_conversion_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each stage is a user-keyed conditional-min aggregate gated on the
    previous stage's time: three hash aggregates + two equi-joins on
    user_id, all sharing one key — at 100 TB that is one exchange reused
    across the chain (AQE co-locates the re-keyed aggregates), and the
    latency means are exact integer-microsecond decimal averages."""
    ev = load_events(spark, sf_dir)
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        )
    ).filter(F.col("t_view").isNotNull())
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    staged = v.join(c, "user_id", "left").join(p, "user_id", "left")
    us = lambda col: F.unix_micros(F.col(col))  # noqa: E731
    return staged.agg(
        F.count(F.lit(1)).alias("n_viewed"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
        exact_avg(
            (us("t_click") - us("t_view")).cast("long"),
            "avg_view_to_click_us",
        ),
        exact_avg(
            (us("t_purchase") - us("t_click")).cast("long"),
            "avg_click_to_purchase_us",
        ),
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen week; for each later week
# they were active, one cell (cohort_week, week_offset, n_active).
# --------------------------------------------------------------------------
_COHORT_SQL = """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week,
                            date_trunc('week', e.ts)) AS INT) AS week_offset
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_active
    FROM activity
    GROUP BY cohort_week, week_offset
    """


@register_local(
    "cohort_retention_matrix",
    oracle=_COHORT_SQL,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two user-keyed aggregates over one scan: first-seen week, then the
    distinct (user, week-offset) grid, then the matrix rollup.  Week
    arithmetic is calendar-exact on both engines (ISO Monday truncation;
    the offset is a whole-week count between truncated stamps, so no
    fractional-week ambiguity survives)."""
    ev = load_events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@register(  # promoted r12 (VERDICT r11 #4): the first streaming parity
    # under a non-sum merge algebra (min + set-union) takes a driver slot
    "streaming_cohort_retention_parity", oracle=_COHORT_SQL
)
def streaming_cohort_retention_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort retention on the LIVE tick path — the eighteenth streaming
    parity, and the first whose maintained state merges under a
    DIFFERENT algebra than decimal sums: per-user first-seen is a MIN
    merge, per-(user, activity-week) presence is a SET-UNION merge.
    Each micro-batch appends two delta-sized state tables under
    idempotent batch_id-keyed overwrite (a retried foreachBatch replaces
    its own partials): (user_id, min ts in batch) and the batch's
    DISTINCT (user_id, activity_week) pairs. The served matrix derives
    from merged state alone — global first-seen = min of batch mins
    (exact on microsecond timestamps), activity grid = distinct of the
    unioned pair sets, then the SAME calendar-week expressions the batch
    query uses — no event rescan, state is users + (user × active-week)
    sized, never ticks-sized. A user whose first-seen week moves EARLIER
    in a later batch is the case sum-based IVM cannot express and min
    merge handles exactly: the three range-split micro-batches make
    most users span batches, so the bitwise hash match against the
    batch oracle proves the cross-batch (min, set-union) merge law."""
    from ..streaming.ingest import replay

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(F.min("ts").alias("min_ts"))
            .write.mode("overwrite")
            .parquet(f"{scratch}/state_first_seen/batch_id={batch_id}")
        )
        (
            batch_df.select("user_id", F.date_trunc("week", "ts").alias("act_week"))
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{scratch}/state_activity/batch_id={batch_id}")
        )

    def finish(scratch: str) -> DataFrame:
        first_seen = (
            spark.read.parquet(f"{scratch}/state_first_seen")
            .groupBy("user_id")
            .agg(F.date_trunc("week", F.min("min_ts")).alias("cohort_week"))
        )
        activity = (
            spark.read.parquet(f"{scratch}/state_activity")
            .select("user_id", "act_week")
            .distinct()
            .join(first_seen, "user_id")
            .select(
                "user_id",
                "cohort_week",
                (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
                .cast("int")
                .alias("week_offset"),
            )
            .distinct()
        )
        return activity.groupBy("cohort_week", "week_offset").agg(
            F.count(F.lit(1)).alias("n_active")
        )

    return replay(spark, load_events(spark, sf_dir), "event_id", per_batch, finish)


# --------------------------------------------------------------------------
# Semi-structured tier: typed extraction from the JSON props column with
# path expressions, then a grouped rollup on the extracted value.
# --------------------------------------------------------------------------
@register_local(
    "json_extraction_bundle",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             -- json_valid guard: unguarded json_extract THROWS on
             -- malformed JSON, while the Spark side's get_json_object
             -- returns NULL — the guard keeps the oracle total on the
             -- invalid-JSON rows the is_valid column exists to measure
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract(props, '$.k') AS INTEGER)
             END AS k,
             CAST(json_valid(props) AS INT) AS is_valid
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(is_valid) AS BIGINT) AS n_valid_json,
           count(k) AS n_with_k,
           min(k) AS min_k, max(k) AS max_k,
           {oracle_exact_avg('k')} AS avg_k,
           CAST(SUM(CAST(k % 10 AS BIGINT)) AS BIGINT) AS sum_k_mod10
    FROM x
    GROUP BY event_type
    """,
)
def json_extraction_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object path extraction + typed cast + validity probe, then
    one grouped rollup — the JSON parse is a per-row codegen expression
    (no Python), so the semi-structured tier scans at full columnar speed
    and the extracted integers join the exact-aggregation machinery like
    any native column."""
    ev = load_events(spark, sf_dir)
    x = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        (
            F.when(
                F.try_parse_json(F.col("props")).isNotNull(), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("is_valid"),
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_valid").alias("n_valid_json"),
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        exact_avg("k", "avg_k"),
        F.sum((F.col("k") % 10).cast("long")).alias("sum_k_mod10"),
    )
