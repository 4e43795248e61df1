"""Statistical / ML queries (SURVEY.md §2.10): correlation matrix (OP-30/67),
Granger causality (OP-65), recursive forecasting (OP-66).

The shared input is the integrated-style hourly wide table built from
``events`` (hour × symbol grid, one column per event_type — the analog of
the reference's integrated_all, integrate/main.py:95-126).

The correlation matrix is oracle-checked (decimal-exact moments). Granger
and the forecaster are not SQL-expressible (iterative OLS / recursive
prediction) — they register without oracles and get the driver's rows-only
check, plus numeric unit tests in tests/test_stats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cleaning import hour_floor
from ..operators.stats import corr_pairs_exact, granger_causality, recursive_forecast
from ..sources.tables import load_table
from .registry import register, register_local

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def hourly_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(symbol, hour_ts, click, error, purchase, signup, view): per-symbol
    hourly grid with positional-last per (hour, type) — the reference's
    integrated wide table re-expressed as one pivot aggregate."""
    ev = load_table(spark, sf_dir, "events").withColumn("hour_ts", hour_floor("ts"))
    return (
        ev.groupBy(F.col("user_id").alias("symbol"), "hour_ts")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.expr("max_by(value, struct(ts, event_id))"))
    )


def daily_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(symbol, day_ts, feature, value) long form — feeds the set-based
    correlation; daily grain so pairwise-complete observations exist at
    every scale factor (hourly cells are mostly empty in this stream)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_ts", F.date_trunc("day", "ts")
    )
    return ev.groupBy(
        F.col("user_id").alias("symbol"),
        "day_ts",
        F.col("event_type").alias("feature"),
    ).agg(F.expr("max_by(value, struct(ts, event_id))").alias("value"))


@register(
    "correlation_matrix",
    oracle="""
    WITH long AS (
      SELECT user_id AS symbol, date_trunc('day', ts) AS day_ts,
             event_type AS feature,
             last(value ORDER BY ts, event_id) AS value
      FROM events GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.symbol, a.feature AS f1, b.feature AS f2, a.value AS x, b.value AS y
      FROM long a JOIN long b
        ON a.symbol = b.symbol AND a.day_ts = b.day_ts
    ), m AS (
      SELECT symbol, f1, f2, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM pairs GROUP BY 1, 2, 3
    ), c AS (
      SELECT symbol, f1, f2,
             CASE WHEN n < 3 THEN NULL
                  WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN round((n * sxy - sx * sy)
                             / (sqrt(n * sxx - sx * sx)
                                * sqrt(n * syy - sy * sy)), 9) END AS corr
      FROM m
    )
    SELECT symbol, f1 AS feature,
           max(CASE WHEN f2 = 'click' THEN corr END) AS click,
           max(CASE WHEN f2 = 'error' THEN corr END) AS error,
           max(CASE WHEN f2 = 'purchase' THEN corr END) AS purchase,
           max(CASE WHEN f2 = 'signup' THEN corr END) AS signup,
           max(CASE WHEN f2 = 'view' THEN corr END) AS view
    FROM c GROUP BY 1, 2
    """,
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-30/OP-67 (analysis_part/main.py:51-55) — one square Pearson
    correlation matrix PER SYMBOL (the reference writes one CSV artifact
    per symbol; here all of them are ONE plan, no per-symbol loop).

    The fixed 5-feature schema means the 15 distinct pairwise moment sets
    need no per-(symbol, day) SELF-JOIN (the r02 plan paid two extra
    shuffles and 25 pair-rows per grid cell): pivot days wide (shuffle 1),
    explode each grid row into its 15 unordered feature pairs (narrow map,
    row existence — not value non-nullness — defines "both present",
    matching the oracle's self-join), then ONE tiny 6-buffer aggregate per
    (symbol, pair) computes the decimal-exact moments (shuffle 2,
    map-side combined). The mirrored square artifact is assembled from the
    ~15-rows-per-symbol moment table (shuffle 3 — bytes, AQE coalesces).

    The r3 form computed all 15 pairs' moments as 75 conditional-sum
    buffers in one groupBy(symbol): 2 exchanges, but the generated
    aggregate was big enough that janino recompiled it (~1.5 s) whenever
    the bench cycle evicted it from the codegen cache (SCALE.md r3). The
    long form trades one bytes-sized exchange for a 6-buffer aggregate
    that compiles in milliseconds — the constant a 1000-executor cluster
    also pays per executor at first task.

    Pairwise-complete semantics (pandas `corr`) preserved exactly: a
    feature never observed for a symbol emits no row (its diagonal pair
    group is empty ⟺ the r3 `_present` flag); degenerate pairs (n < 3 or
    zero variance) give NULL. Moments accumulate in DECIMAL(38,6) —
    order-independent, bit-equal to the oracle on any partitioning."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_ts", F.date_trunc("day", "ts")
    )
    wide = (
        ev.groupBy(F.col("user_id").alias("symbol"), "day_ts")
        .pivot("event_type", EVENT_TYPES)
        .agg(
            F.expr("max_by(value, struct(ts, event_id))").alias("v"),
            F.count(F.lit(1)).alias("c"),
        )
    )

    # Generated SQL, not Column algebra: one JVM parse instead of hundreds
    # of Py4J round-trips. Same arithmetic as r3 (product in DOUBLE, cast
    # to DECIMAL(38,6), summed exact, cast back) so the oracle hash holds.
    pair_structs = ",\n               ".join(
        f"struct('{a}' AS f1, '{b}' AS f2, "
        f"{a}_c IS NOT NULL AND {b}_c IS NOT NULL AS both, "
        f"{a}_v AS x, {b}_v AS y)"
        for i, a in enumerate(EVENT_TYPES)
        for b in EVENT_TYPES[i:]
    )
    vx = "(CAST(n AS DOUBLE) * sxx - sx * sx)"
    vy = "(CAST(n AS DOUBLE) * syy - sy * sy)"
    corr = (
        f"CASE WHEN n >= 3 AND {vx} > 0 AND {vy} > 0 THEN "
        f"round(try_divide(CAST(n AS DOUBLE) * sxy - sx * sy, "
        f"sqrt({vx}) * sqrt({vy})), 9) END"
    )
    cells = ", ".join(
        f"max(CASE WHEN f2 = '{b}' THEN corr END) AS {b}" for b in EVENT_TYPES
    )
    return spark.sql(
        f"""
        WITH pairs AS (
          SELECT symbol, p.f1, p.f2, p.x, p.y
          FROM {{wide}}
          LATERAL VIEW inline(array({pair_structs})) p
          WHERE p.both
        ), m AS (
          SELECT symbol, f1, f2, count(*) AS n,
                 CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
          FROM pairs GROUP BY 1, 2, 3
        ), c AS (
          -- corr is symmetric, so each unordered pair emits both ordered
          -- cells from ONE pass (a UNION here re-executes the whole
          -- pair/moment pipeline below the reused exchange); the diagonal's
          -- duplicate cell is harmless under max().
          SELECT symbol, cell.f1 AS f1, cell.f2 AS f2, cell.corr AS corr
          FROM (SELECT symbol, f1, f2, {corr} AS corr FROM m)
          LATERAL VIEW inline(array(struct(f1, f2, corr),
                                    struct(f2 AS f1, f1 AS f2, corr))) cell
        )
        SELECT symbol, f1 AS feature, {cells}
        FROM c GROUP BY symbol, f1
        """,
        wide=wide,
    )


@register_local(
    "correlation_pairs_long",
    oracle="""
    WITH long AS (
      SELECT user_id AS symbol, date_trunc('day', ts) AS day_ts,
             event_type AS feature,
             last(value ORDER BY ts, event_id) AS value
      FROM events GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.symbol, a.feature AS f1, b.feature AS f2, a.value AS x, b.value AS y
      FROM long a JOIN long b
        ON a.symbol = b.symbol AND a.day_ts = b.day_ts AND a.feature < b.feature
    ), m AS (
      SELECT symbol, f1, f2, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM pairs GROUP BY 1, 2, 3
    )
    SELECT symbol, f1, f2, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
           END AS corr
    FROM m WHERE n >= 3
    """,
)
def correlation_pairs_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long (symbol, f1, f2, n, corr) pairwise form via the reusable
    `corr_pairs_exact` operator. Local-only: the registered
    `correlation_matrix` covers the same moments in artifact shape."""
    return corr_pairs_exact(daily_long(spark, sf_dir))


@register_local("granger_causality")  # no oracle: iterative OLS + F-sf, rows-only check
def granger_causality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-65 (analysis_part/main.py:58-78) — does each other event series
    Granger-cause 'click', per symbol, lags 1..5? Packed per-symbol series
    through ``mapInPandas`` with numpy OLS and an own-implementation F
    survival function (no statsmodels here); reference knobs preserved:
    maxlag 5, min-rows guard maxlag+2, 5 dp rounding, error rows on failure.

    Input is the hourly wide table with per-symbol forward-fill (the
    reference Grangers the *integrated* table, whose macro columns are
    ffilled — integrate/main.py:72): without the fill the hourly cells are
    too sparse for pairwise-complete observations at any scale factor."""
    from pyspark.sql import Window

    wide = hourly_wide(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in EVENT_TYPES:
        wide = wide.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return granger_causality(wide)


@register(
    "granger_structure",
    oracle="""
    WITH cells AS (
      SELECT user_id AS symbol, date_trunc('hour', ts) AS hour_ts, event_type,
             last(value ORDER BY ts, event_id) AS value
      FROM events GROUP BY 1, 2, 3
    ), wide AS (
      SELECT symbol, hour_ts,
             max(CASE WHEN event_type = 'click' THEN value END) AS click,
             max(CASE WHEN event_type = 'error' THEN value END) AS error,
             max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
             max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
             max(CASE WHEN event_type = 'view' THEN value END) AS view
      FROM cells GROUP BY 1, 2
    ), ff AS (
      SELECT symbol, hour_ts,
             LAST_VALUE(click IGNORE NULLS) OVER w AS click,
             LAST_VALUE(error IGNORE NULLS) OVER w AS error,
             LAST_VALUE(purchase IGNORE NULLS) OVER w AS purchase,
             LAST_VALUE(signup IGNORE NULLS) OVER w AS signup,
             LAST_VALUE(view IGNORE NULLS) OVER w AS view
      FROM wide
      WINDOW w AS (PARTITION BY symbol ORDER BY hour_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), long AS (
      SELECT symbol, pr.predictor, click,
             CASE pr.predictor WHEN 'error' THEN error
                               WHEN 'purchase' THEN purchase
                               WHEN 'signup' THEN signup
                               WHEN 'view' THEN view END AS pval
      FROM ff CROSS JOIN (
        SELECT unnest(['error', 'purchase', 'signup', 'view']) AS predictor
      ) pr
    ), counts AS (
      SELECT symbol, predictor,
             count(*) FILTER (WHERE click IS NOT NULL AND pval IS NOT NULL)
               AS n_pair
      FROM long GROUP BY 1, 2
    )
    SELECT symbol, predictor, CAST(NULL AS INT) AS lag,
           FALSE AS has_p, TRUE AS is_error
    FROM counts WHERE n_pair < 7
    UNION ALL
    SELECT symbol, predictor, CAST(l.lag AS INT) AS lag,
           (n_pair - 3 * l.lag - 1 > 0) AS has_p, FALSE AS is_error
    FROM counts CROSS JOIN (SELECT unnest(range(1, 6)) AS lag) l
    WHERE n_pair >= 7
    """,
)
def granger_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible projection of the Granger operator (OP-65),
    hash-checked: row structure per (symbol, predictor, lag 1..5), the
    reference's min-rows guard (`len < maxlag+2` ⇒ single error row with
    NULL lag, analysis_part/main.py:64-65), and p-value computability
    (`has_p` ⇔ the F-test dof n − 3·lag − 1 > 0 on the pairwise-complete
    series). The oracle re-derives all of it relationally from the same
    ffilled hourly wide table, so the operator's branching — not its
    numerics — gets a bitwise oracle check; the p-values themselves (not
    SQL-expressible) are checked exactly against a pandas loop in
    tests/test_stats.py.

    Oracle precondition: the dof rule predicts `has_p` only when the
    regression is non-degenerate — a perfectly-fit series (rss_u = 0,
    e.g. a constant target over the pairwise-complete window) or an
    lstsq failure would make the operator emit NaN/error where the oracle
    predicts a p-value. Neither occurs on real-valued noisy series;
    verified bitwise at sf0.001/0.01/0.1 on the fixtures. If a future
    corpus trips it, the honest fix is extending the oracle's CASE, not
    loosening the operator."""
    g = granger_causality_q(spark, sf_dir)
    return g.select(
        "symbol",
        "predictor",
        "lag",
        (F.col("p_value").isNotNull() & ~F.isnan("p_value")).alias("has_p"),
        F.col("error").isNotNull().alias("is_error"),
    )


@register_local("recursive_forecast")  # no oracle: recursive prediction, rows-only check
def recursive_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-66 (analysis_part/main.py:81-125) — per symbol: 24 lag features,
    80/20 temporal split, fit, test RMSE, 168-step recursive forecast.
    The model is the in-repo histogram GBT (operators/gbt.py — the
    reference's model family and hyperparameters, pure-Python differential
    in tests/test_gbt.py). mapInPandas over packed series: all symbols
    train in parallel."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.select(
        F.col("user_id").alias("symbol"), F.col("ts").alias("hour_ts"), F.col("value")
    )
    return recursive_forecast(series, ts_col="hour_ts", horizon=168)


@register(
    "forecast_structure",
    oracle="""
    WITH obs AS (
      SELECT user_id AS symbol, count(*) AS n_obs FROM events GROUP BY 1
    )
    SELECT symbol,
           n_obs,
           (n_obs >= 34) AS included,
           CAST(CASE WHEN n_obs >= 34 THEN 168 ELSE 0 END AS BIGINT)
             AS n_forecast_rows,
           (n_obs >= 34) AS steps_ok,
           CASE WHEN n_obs >= 34
                THEN CAST(floor((n_obs - 24) * 0.8) AS INT) END AS n_train,
           CASE WHEN n_obs >= 34
                THEN CAST((n_obs - 24) - floor((n_obs - 24) * 0.8) AS INT)
                END AS n_test,
           (n_obs >= 34) AS rmse_ok,
           (n_obs >= 34) AS forecast_finite,
           (n_obs >= 34) AS skeleton_ok
    FROM obs
    """,
)
def forecast_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible projection of the recursive forecaster (OP-66),
    hash-checked — the granger_structure pattern applied to the one
    remaining rows-only driver row. The operator's ACTUAL output is
    aggregated per symbol and full-outer-joined to the events-side
    observation counts, so the oracle's relational re-derivation certifies:
    the inclusion predicate (n_obs >= n_lags + 10 = 34), exact 168-row
    step coverage 1..168 per included symbol, the train/test split sizes
    the operator itself reports (int(0.8·(n_obs−24)) — floor and float
    truncation agree for nonnegative values), rmse finiteness + per-symbol
    constancy, forecast finiteness, and skeleton consistency (the
    operator's n_obs equals the events count). A full-outer join means
    phantom symbols on either side surface as hash mismatches. The
    forecast VALUES stay under tests/test_stats.py (not SQL-expressible —
    recursive feedback); this query certifies everything else.

    Oracle precondition: forecast/rmse finiteness is a prediction, not a
    tautology — a NaN or infinite input value would reach the GBT's leaves
    and flip forecast_finite, failing the hash. Holds on the fixtures at
    sf0.001/0.01/0.1."""
    fc = recursive_forecast_q(spark, sf_dir)
    per = fc.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("_rows"),
        F.countDistinct("step").alias("_nsteps"),
        F.min("step").alias("_minstep"),
        F.max("step").alias("_maxstep"),
        F.max(F.isnan("rmse").cast("int")).alias("_rmse_nan"),
        F.countDistinct("rmse").alias("_rmse_card"),
        F.max(
            (
                F.isnan("forecast_c")
                | (F.abs(F.col("forecast_c")) == F.lit(float("inf")))
            ).cast("int")
        ).alias("_fc_bad"),
        F.countDistinct(F.struct("n_obs", "n_train", "n_test")).alias(
            "_skel_card"
        ),
        F.max("n_obs").alias("_op_nobs"),
        F.max("n_train").alias("_n_train"),
        F.max("n_test").alias("_n_test"),
    )
    obs = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("symbol"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    j = obs.join(per, "symbol", "full_outer")
    false = F.lit(False)
    return j.select(
        "symbol",
        "n_obs",
        (F.coalesce(F.col("_rows"), F.lit(0)) > 0).alias("included"),
        F.coalesce(F.col("_rows"), F.lit(0)).alias("n_forecast_rows"),
        F.coalesce(
            (F.col("_nsteps") == 168)
            & (F.col("_minstep") == 1)
            & (F.col("_maxstep") == 168),
            false,
        ).alias("steps_ok"),
        F.col("_n_train").alias("n_train"),
        F.col("_n_test").alias("n_test"),
        F.coalesce(
            (F.col("_rmse_nan") == 0) & (F.col("_rmse_card") == 1), false
        ).alias("rmse_ok"),
        F.coalesce(F.col("_fc_bad") == 0, false).alias("forecast_finite"),
        F.coalesce(
            (F.col("_skel_card") == 1) & (F.col("_op_nobs") == F.col("n_obs")),
            false,
        ).alias("skeleton_ok"),
    )


# --------------------------------------------------------------------------
# Sketch aggregates — the 100 TB scale path for distinct-count and quantile.
# No oracle (HLL++ / KLL internals are engine-specific); accuracy is bounded
# against the exact answers in tests/test_sketches.py instead.
# --------------------------------------------------------------------------
@register_local("approx_sketch_bundle")  # no oracle: sketch estimates, rows-only check
def approx_sketch_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch twins in ONE pass: HyperLogLog++ distinct users (rsd 1%)
    and KLL-style p50/p90/p99 value quantiles per event_type. One groupBy,
    both sketch states merged map-side — the 100 TB shape for
    distinct-count and quantile (exact twins: `distinct_segments`,
    `quantiles_by_priority`). Accuracy is bounded against exact answers in
    tests/test_sketches.py; sketch internals are engine-specific, so this
    registers rows-only."""
    ev = load_table(spark, sf_dir, "events")
    q = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000)
    )
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        q.getItem(0).alias("p50_value"),
        q.getItem(1).alias("p90_value"),
        q.getItem(2).alias("p99_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register_local("approx_distinct_sketch")  # no oracle: HLL estimate, rows-only
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event_type (rsd 1%). Unlike exact
    COUNT(DISTINCT) — whose Expand+double-shuffle plan moves every distinct
    key — the sketch is a fixed ~4 KB state per group merged map-side, so
    network cost is O(groups), not O(distinct keys): the only viable
    distinct-count at 100 TB."""
    # Deliberately NOT repartitioned: each partial partition materializes a
    # 2^14-register (~16 KB) sketch per group, so sketch-merge cost scales
    # with partitions × groups — measured 0.88 s at 32 partitions vs 0.50 s
    # at 1 for the same data. At 100 TB that same math says: keep rsd as
    # coarse as the use case allows, and don't over-partition upstream of a
    # high-precision HLL.
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@register_local("approx_quantile_sketch")  # no oracle: sketch estimate, rows-only
def approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style mergeable sketch) of event value per
    event_type: p50/p90/p99 in one pass with bounded error (accuracy 10000 →
    ±0.01%%-ile), vs the exact window plan in quantiles_by_priority which
    must shuffle + sort every row. The exact twin is the correctness oracle;
    this is what actually runs at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    q = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000)
    )
    return (
        ev.groupBy("event_type")
        .agg(
            q.getItem(0).alias("p50_value"),
            q.getItem(1).alias("p90_value"),
            q.getItem(2).alias("p99_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- time-series motif search (r6) ---------------------------------------------------
_MOTIF_W = 12


def _motif_oracle() -> str:
    W = _MOTIF_W
    xs = ", ".join(f"lead(v, {k}) OVER w AS x{k}" for k in range(W))
    s = " + ".join(f"x{k}" for k in range(W))
    ss = " + ".join(f"x{k} * x{k}" for k in range(W))
    xlist = ", ".join(f"x{k}" for k in range(W))
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS v
      FROM events GROUP BY 1, 2
    ), led AS (
      SELECT event_type, hour_ts, {xs}
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
    ), wins AS (
      SELECT *, ({s}) / {W} AS m,
             sqrt(GREATEST(({ss}) / {W}
                           - (({s}) / {W}) * (({s}) / {W}), 0)) AS sd
      FROM led WHERE x{W - 1} IS NOT NULL
    ), longz AS (
      SELECT event_type, hour_ts, m, sd,
             unnest(range(0, {W})) AS k,
             unnest([{xlist}]) AS x
      FROM wins WHERE sd > 0
    ), zl AS (
      SELECT event_type, hour_ts, k, (x - m) / sd AS z FROM longz
    ), qh AS (
      SELECT min(hour_ts) AS q_hour FROM zl WHERE event_type = 'click'
    ), qz AS (
      SELECT k, z AS qz FROM zl, qh
      WHERE event_type = 'click' AND hour_ts = q_hour
    ), d AS (
      SELECT zl.event_type, zl.hour_ts,
             sum(CAST((zl.z - qz.qz) * (zl.z - qz.qz)
                      AS DECIMAL(38,18))) AS dist
      FROM zl JOIN qz USING (k), qh
      WHERE NOT (zl.event_type = 'click' AND zl.hour_ts = qh.q_hour)
      GROUP BY 1, 2
    ), r AS (
      SELECT event_type, hour_ts, dist,
             row_number() OVER (ORDER BY dist, event_type, hour_ts) AS rank
      FROM d
    )
    SELECT event_type, hour_ts,
           round(CAST(dist AS DOUBLE), 9) AS zdist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """


@register_local("ts_motif_search", oracle=_motif_oracle())
def ts_motif_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity (motif) search over the hourly grid: the 10
    windows of 12 consecutive hourly observations — across ALL series —
    most similar in SHAPE to a query window (z-normalized squared
    distance; the query is the earliest 'click' window). The windows
    table is grid-sized (series × hours), built from W lead columns over
    decimal-exact hourly means — at 100 TB the grid is ~10⁵ smaller than
    the event stream, so the corpus-sized work is only the hourly
    aggregate. The distance runs in LONG form: windows posexplode to
    (window, k, z) rows that join the 12-row broadcast query vector, and
    per-window distances sum the squared diffs in DECIMAL(38,18) —
    order-independent, so the ranking is bit-exact. (A first draft
    computed the distance as one wide 12-term Column expression; Catalyst
    re-inlines the m/sd subtrees into every term — thousands of codegen
    nodes, 14.6 s at sf0.1 in compile cost. The generator boundary stops
    the inlining: 0.7 s, same bits.)"""
    import operator
    from functools import reduce

    from pyspark.sql import Window

    W = _MOTIF_W
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_ts", hour_floor("ts")
    )
    hourly = ev.groupBy("event_type", "hour_ts").agg(
        F.try_divide(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double"),
            F.count(F.lit(1)),
        ).alias("v")
    )
    win = Window.partitionBy("event_type").orderBy("hour_ts")
    led = hourly.select(
        "event_type",
        "hour_ts",
        *[F.lead("v", k).over(win).alias(f"x{k}") for k in range(W)],
    ).filter(F.col(f"x{W - 1}").isNotNull())
    s = reduce(operator.add, [F.col(f"x{k}") for k in range(W)])
    ss = reduce(
        operator.add, [F.col(f"x{k}") * F.col(f"x{k}") for k in range(W)]
    )
    m = s / W
    sd = F.sqrt(F.greatest(ss / W - m * m, F.lit(0.0)))
    # posexplode: the Generate boundary materializes m/sd as VALUES, so
    # the z/distance expressions below reference plain columns instead of
    # re-inlined subtrees
    longz = led.select(
        "event_type",
        "hour_ts",
        m.alias("m"),
        sd.alias("sd"),
        F.posexplode(F.array(*[F.col(f"x{k}") for k in range(W)])).alias(
            "k", "x"
        ),
    ).filter(F.col("sd") > 0)
    zl = longz.select(
        "event_type",
        "hour_ts",
        "k",
        ((F.col("x") - F.col("m")) / F.col("sd")).alias("z"),
    )
    qh = zl.filter(F.col("event_type") == "click").agg(
        F.min("hour_ts").alias("q_hour")
    )
    qz = (
        zl.filter(F.col("event_type") == "click")
        .crossJoin(F.broadcast(qh))
        .filter(F.col("hour_ts") == F.col("q_hour"))
        .select("k", F.col("z").alias("qz"))
    )
    diff = F.col("z") - F.col("qz")
    d = (
        zl.join(F.broadcast(qz), "k")
        .crossJoin(F.broadcast(qh))
        .filter(
            ~(
                (F.col("event_type") == "click")
                & (F.col("hour_ts") == F.col("q_hour"))
            )
        )
        .groupBy("event_type", "hour_ts")
        .agg(F.sum((diff * diff).cast("decimal(38,18)")).alias("dist"))
    )
    # Top-10 via orderBy+limit → TakeOrderedAndProject: a per-partition
    # heap + a 10-row merge on the driver, with the same deterministic
    # (dist, event_type, hour_ts) tie-break. The first draft ranked with
    # row_number() over an UNPARTITIONED window — a single-partition sort
    # of the whole distance table; grid-sized here, but the heap plan is
    # the shape that survives any scale. The rank column is then a window
    # over the already-limited 10 rows (constant-bounded, not a scale
    # concern).
    top = d.orderBy("dist", "event_type", "hour_ts").limit(10)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy().orderBy("dist", "event_type", "hour_ts")
        ),
    )
    return ranked.select(
        "event_type",
        "hour_ts",
        F.round(F.col("dist").cast("double"), 9).alias("zdist"),
        F.col("rank").cast("int").alias("rank"),
    )
