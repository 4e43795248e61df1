"""Relational-core queries on the TPC-H-ish tables (joins, aggregates,
top-k, set ops, scalar functions — SURVEY.md §2.3/§2.4/§2.6/§2.8).

``lineitem``/``orders`` are the fact tables; ``customer``/``supplier``/
``nation``/``region``/``part`` the broadcastable dimensions (FIXTURES.md
Part B). Aggregates use the decimal-exact pattern (functions/scalar.py) so
results are bit-identical across engines and shuffle orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (
    EXACT_DECIMAL,
    exact_avg,
    exact_sum,
    first_token,
    is_ticker_token,
    neg_log10_guarded,
    oracle_exact_avg,
    oracle_exact_sum,
)
from ..operators.cleaning import hour_floor
from ..sources.tables import load_table
from .registry import register, register_local


# --------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary — the canonical scan→filter→agg plan
# (OP-34/OP-37 aggregate family at fact-table scale).
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_exact_sum('l_quantity')} AS sum_qty,
           {oracle_exact_sum('l_extendedprice')} AS sum_base_price,
           {oracle_exact_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {oracle_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {oracle_exact_avg('l_quantity')} AS avg_qty,
           {oracle_exact_avg('l_extendedprice')} AS avg_price,
           {oracle_exact_avg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → pushed filter → hash aggregate with map-side combine; the whole
    plan is one WholeStageCodegen span over the vectorized parquet reader."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", "sum_qty"),
        exact_sum("l_extendedprice", "sum_base_price"),
        exact_sum(disc_price, "sum_disc_price"),
        exact_sum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
        exact_avg("l_quantity", "avg_qty"),
        exact_avg("l_extendedprice", "avg_price"),
        exact_avg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# OP-22/OP-24: fact ⋈ chain of broadcast dimensions (the macro-join shape:
# integrate/main.py:105-107 — small table replicated to every fact row).
# --------------------------------------------------------------------------
@register(
    "revenue_by_region",
    oracle=f"""
    SELECT r.r_name,
           {oracle_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem is partially aggregated to one row per order key *before*
    the join (decimal partial sums stay exact under re-aggregation), so the
    shuffle join moves one row per order instead of one per lineitem and the
    count-distinct degenerates to a plain count. nation/region are explicit
    broadcast joins — fixed-size dimensions (25/5 rows at ANY scale
    factor), so zero extra shuffles however large the fact side grows.
    customer is deliberately UNHINTED (the r6 Q3 treatment): its size is
    proportional to SF (~150k rows/SF → tens of GB at 100 TB), so a forced
    broadcast would override Spark's size check and OOM the driver at
    scale; AQE picks broadcast at test SFs and shuffle-hash at cluster
    scale on measured stats."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li_per_order = li.groupBy("l_orderkey").agg(
        F.sum(rev.cast(EXACT_DECIMAL)).alias("_order_rev")
    )
    joined = (
        li_per_order.join(orders, li_per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("r_name").agg(
        F.sum("_order_rev").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# OP-24: selective-filter broadcast join (filter pushed below the join).
# Local tier since r4: its operators (broadcast join OP-24, filter
# pushdown, exact sums) all keep driver rows via revenue_by_region /
# q1_pricing_summary; the freed slot went to gopher_repetition_filters
# so the round-4 training-data surface has a driver-checked row.
# --------------------------------------------------------------------------
@register_local(
    "brand_heavy_lineitems",
    oracle=f"""
    SELECT p.p_brand,
           count(*) AS n_items,
           {oracle_exact_sum('l.l_extendedprice')} AS total_price,
           {oracle_exact_avg('l.l_quantity')} AS avg_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 30
    GROUP BY p.p_brand
    """,
)
def brand_heavy_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part is UNHINTED: like customer (see revenue_by_region), part scales
    # with SF (~200k rows/SF), so a forced broadcast is a scale hazard;
    # AQE broadcasts at test SFs and falls back to shuffle-hash on
    # measured stats at cluster scale. The selective l_quantity filter
    # still lands below the join on the fact side.
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30)
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum("l_extendedprice", "total_price"),
            exact_avg("l_quantity", "avg_qty"),
        )
    )


# --------------------------------------------------------------------------
# OP-22/OP-23: composite-key LEFT join of two per-source hourly tables —
# the stock⋈yahoo/trends shape (integrate/main.py:99-104), set-based.
# --------------------------------------------------------------------------
@register(
    "hourly_left_join_sources",
    oracle="""
    WITH clicks AS (
      SELECT user_id AS symbol, date_trunc('hour', ts) AS hour_ts,
             last(value ORDER BY ts, event_id) AS click_price
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), views AS (
      SELECT user_id AS symbol, date_trunc('hour', ts) AS hour_ts,
             last(value ORDER BY ts, event_id) AS view_price
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT c.symbol, c.hour_ts, c.click_price, v.view_price
    FROM clicks c LEFT JOIN views v USING (symbol, hour_ts)
    """,
)
def hourly_left_join_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol loop + index join in the reference becomes ONE composite-key
    left join; both sides pre-aggregated to (symbol, hour) so the join is 1:1
    and nulls appear exactly where a source has no observation."""
    ev = load_table(spark, sf_dir, "events")

    def hourly(etype: str, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .withColumn("hour_ts", hour_floor("ts"))
            .groupBy(F.col("user_id").alias("symbol"), "hour_ts")
            .agg(F.max_by("value", F.struct("ts", "event_id")).alias(out))
        )

    clicks = hourly("click", "click_price")
    views = hourly("view", "view_price")
    return clicks.join(views, ["symbol", "hour_ts"], "left")


# --------------------------------------------------------------------------
# OP-25: trend-column → symbol fuzzy matcher (integrate/main.py:16-29):
# substring containment, first-match-wins in symbol order, regex-token
# fallback, unmatched columns dropped.
# --------------------------------------------------------------------------
@register(
    "trend_column_matcher",
    oracle="""
    WITH cols AS (
      SELECT DISTINCT event_type || ' score' AS col FROM events
      UNION ALL SELECT 'AAPL stock'
      UNION ALL SELECT 'nyse:MSFT - price'
      UNION ALL SELECT 'isPartial'
    ), syms(sym, ord) AS (
      SELECT * FROM (VALUES ('CLICK', 1), ('SIGNUP', 2), ('PURCHASE', 3)) t
    ), contained AS (
      SELECT c.col, arg_min(s.sym, s.ord) AS sym
      FROM cols c JOIN syms s ON contains(lower(c.col), lower(s.sym))
      GROUP BY c.col
    ), fallback AS (
      SELECT col,
             CASE WHEN regexp_matches(string_split_regex(col, '\\s|[:\\-]')[1],
                                      '^[A-Z]{1,5}$')
                  THEN string_split_regex(col, '\\s|[:\\-]')[1] END AS tok
      FROM cols
    )
    SELECT f.col, COALESCE(c.sym, f.tok) AS symbol
    FROM fallback f LEFT JOIN contained c USING (col)
    WHERE COALESCE(c.sym, f.tok) IS NOT NULL
    """,
)
def trend_column_matcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiny metadata theta-join (contains predicate) — at scale this is a
    column-catalog × symbol-list nested-loop over driver-size data, never the
    fact table. First-match-wins = min_by(sym, ord); fallback = first token
    full-matching [A-Z]{1,5} (integrate/main.py:23-28)."""
    ev = load_table(spark, sf_dir, "events")
    cols = (
        ev.select(F.concat(F.col("event_type"), F.lit(" score")).alias("col"))
        .distinct()
        .unionAll(
            spark.createDataFrame(
                [("AAPL stock",), ("nyse:MSFT - price",), ("isPartial",)], ["col"]
            )
        )
    )
    syms = spark.createDataFrame(
        [("CLICK", 1), ("SIGNUP", 2), ("PURCHASE", 3)], ["sym", "ord"]
    )
    contained = (
        cols.join(
            F.broadcast(syms),
            F.lower(F.col("col")).contains(F.lower(F.col("sym"))),
        )
        .groupBy("col")
        .agg(F.min_by("sym", "ord").alias("sym"))
    )
    tok = first_token(F.col("col"))
    fallback = cols.select(
        "col", F.when(is_ticker_token(tok), tok).alias("tok")
    )
    out = fallback.join(contained, "col", "left").select(
        "col", F.coalesce("sym", "tok").alias("symbol")
    )
    return out.filter(F.col("symbol").isNotNull())


# --- OP-31: group-min aggregate ----------------------------------------------
@register_local(
    "priority_price_stats",
    oracle="""
    SELECT o_orderpriority,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def priority_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dashboard/app.py:410 — groupBy().min() family (min/max are exact
    cross-engine; no decimal detour needed)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --- OP-45/OP-46 + OP-55: top-k by measure with -log10 significance ----------
@register(
    "top10_significant_lineitems",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           round(-log10(CASE WHEN l_discount = 0 THEN 1e-10 ELSE l_discount END), 8)
             AS significance
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def top10_significant_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dashboard/app.py:411-414 — sort desc + head(10): Catalyst plans
    TakeOrderedAndProject (per-partition top-k, then merge — no global sort).
    Unique (orderkey, linenumber) tiebreak keeps LIMIT deterministic; log10
    rounded to 8dp (libm implementations differ in the last ulp)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.round(neg_log10_guarded("l_discount"), 8).alias("significance"),
        )
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
    )


# --- OP-35: distinct values ---------------------------------------------------
# Local since r4: distinct/dedup is driver-covered by preprocess_integrate_chain
# (dedup_exact) and dedup_exact_documents.
@register_local(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """integrate/main.py:79 — dropna().unique() as distinct + not-null."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .filter(F.col("c_mktsegment").isNotNull())
        .distinct()
    )


# --- semi/anti joins (declared surface beyond reference parity, SURVEY §2.3) --
# One bundle drives both join types through the driver gate; the
# single-operator forms live in the local tier.
@register_local(
    "semi_anti_customers",
    oracle="""
    SELECT c_mktsegment, 'active' AS activity, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'inactive' AS activity, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti against the same filtered orders build — the
    EXISTS / NOT EXISTS pair as one result with an activity tag. Both
    branches share the scan + filter subtree; each join ships only the key
    column of the build side (semi/anti never materialize right columns)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    active = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select("c_mktsegment", F.lit("active").alias("activity"), "n_customers")
    )
    inactive = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select("c_mktsegment", F.lit("inactive").alias("activity"), "n_customers")
    )
    return active.unionByName(inactive)


@register_local(
    "semi_join_active_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register_local(
    "anti_join_inactive_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- rollup (free Catalyst surface, SURVEY §2.4 note) -------------------------
@register_local(
    "rollup_customers_by_geo",
    oracle="""
    SELECT r.r_name, n.n_name, count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_customers_by_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- OP-49..OP-60: the scalar-function bundle ---------------------------------
@register(
    "scalar_functions_bundle",
    oracle="""
    SELECT o_orderkey,
           lower(o_orderpriority) AS prio_lower,
           contains(lower(o_orderpriority), 'high') AS is_high,
           CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FINISHED'
                              WHEN 'P' THEN 'PENDING' END AS status_name,
           o_orderdate - INTERVAL 1 DAY AS prev_day,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           (o_totalprice - 100000.0) / 100000.0 * 100.0 AS pct_vs_ref,
           round(o_totalprice / 7.0, 5) AS price_div7,
           sqrt(o_totalprice) AS price_sqrt,
           o_totalprice / 1000000.0 AS price_mm,
           CASE WHEN o_orderkey % 24 = 0
                THEN 'Day ' || CAST(o_orderkey // 24 AS VARCHAR) END AS day_label,
           CAST(o_orderkey AS DOUBLE) AS key_double
    FROM orders
    """,
)
def scalar_functions_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49 lower/contains, OP-51 mapping replace, OP-52 date −1 day,
    OP-53 to_date, OP-54 pct arithmetic, OP-56 round 5dp, OP-57 sqrt (IEEE-
    exact), OP-58 unit scaling, OP-59 every-24th labeling, OP-60 casts —
    all JVM-side Catalyst expressions inside one codegen stage."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.lower("o_orderpriority").alias("prio_lower"),
        F.lower(F.col("o_orderpriority")).contains("high").alias("is_high"),
        F.when(F.col("o_orderstatus") == "O", "OPEN")
        .when(F.col("o_orderstatus") == "F", "FINISHED")
        .when(F.col("o_orderstatus") == "P", "PENDING")
        .alias("status_name"),
        (F.col("o_orderdate") - F.expr("INTERVAL 1 DAY")).alias("prev_day"),
        # DATE surfaces as a string: pandas renders Spark DATE as date objects
        # but DuckDB DATE as midnight timestamps — string form is unambiguous.
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
        ((price - 100000.0) / 100000.0 * 100.0).alias("pct_vs_ref"),
        F.round(price / 7.0, 5).alias("price_div7"),
        F.sqrt(price).alias("price_sqrt"),
        (price / 1000000.0).alias("price_mm"),
        F.when(
            F.col("o_orderkey") % 24 == 0,
            F.concat(F.lit("Day "), (F.col("o_orderkey") / 24).cast("long").cast("string")),
        ).alias("day_label"),
        F.col("o_orderkey").cast("double").alias("key_double"),
    )


# --------------------------------------------------------------------------
# Grouping sets: CUBE over (returnflag, linestatus) — free in Catalyst
# (SURVEY.md §2.4 "come free in Spark if we declare them"); partial
# aggregation is map-side combinable per grouping set.
# --------------------------------------------------------------------------
@register_local(
    "cube_pricing_totals",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           {oracle_exact_sum('l_quantity')} AS sum_qty,
           {oracle_exact_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_pricing_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: all 4 grouping-set combinations in one pass.

    Pre-aggregate on the full (returnflag, linestatus) key FIRST, then cube
    the handful of partial rows: Catalyst's CUBE runs Expand (one copy of
    every input row per grouping set) *before* the aggregate, so cubing the
    raw fact table pushes 4× the rows through the shuffle. Cubing the
    partials is exact for these algebraic aggregates (decimal sums
    reassociate losslessly, counts sum) and shrinks the Expand input from
    |lineitem| to |distinct keys| ≈ 12 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    partial = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("l_quantity").cast(EXACT_DECIMAL)).alias("_q"),
        F.sum(F.col("l_extendedprice").cast(EXACT_DECIMAL)).alias("_p"),
    )
    return partial.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n_items"),
        F.sum("_q").cast("double").alias("sum_qty"),
        F.sum("_p").cast("double").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Set operations: INTERSECT (distinct) and EXCEPT ALL (multiset) — the set
# ops SURVEY §2.7 notes the engine exposes beyond the reference's unions.
# --------------------------------------------------------------------------
@register_local(
    "customer_set_ops",
    oracle="""
    SELECT custkey, 'both_years' AS segment_tag FROM (
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    UNION ALL
    SELECT custkey, 'only_1996' AS segment_tag FROM (
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      EXCEPT ALL
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    """,
)
def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) + EXCEPT ALL (multiset difference)
    over yearly buyer sets (1996 vs 1997, inside the fixture's 1995-2001 range). Both compile to aggregate/join plans — no
    driver-side set logic; the date predicates push to the parquet scan."""
    o = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01"))
        ).select(F.col("o_custkey").alias("custkey"))

    both = (
        year(1996)
        .intersect(year(1997))
        .select("custkey", F.lit("both_years").alias("segment_tag"))
    )
    only94 = (
        year(1996)
        .exceptAll(year(1997))
        .select("custkey", F.lit("only_1996").alias("segment_tag"))
    )
    return both.unionByName(only94)


# --------------------------------------------------------------------------
# TPC-H Q3-shaped shipping priority: selective dim filter broadcast into the
# fact-fact join, then deterministic top-10 (reference join shape of
# integrate/main.py:105-107 at its most selective; OP-22/24/45/46).
# --------------------------------------------------------------------------
@register_local(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {oracle_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILDING-segment customer keys join into orders UNHINTED: that
    side is ~1/5 of `customer`, which grows with SF (≈3 B keys at the 100 TB
    point), so a forced broadcast hint would override Spark's size check and
    OOM exactly where an unhinted plan falls back to shuffle — AQE still
    picks BroadcastHashJoin at every SF where the side fits. Only the
    surviving orders shuffle against lineitem on the join key. The final
    top-10 is TakeOrderedAndProject — per-partition heaps + a driver merge,
    never a global sort. Ties broken by unique l_orderkey so the limit is
    deterministic across engines."""
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o.join(c, o.o_custkey == c.c_custkey), F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(exact_sum(rev, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q6-shaped promo revenue: the pure scan-filter-agg plan — every
# predicate pushes to the parquet reader, result is one row. The canonical
# "does the filter reach the scan" probe (OP-15/OP-37 family).
# --------------------------------------------------------------------------
@register_local(
    "q6_promo_revenue",  # local since r4: pushed scan-filter-agg shape is
    # driver-covered by q1_pricing_summary (decimal exact_sum) and the
    # PushedFilters proof on flagship/preprocess.
    oracle=f"""
    SELECT {oracle_exact_sum('l_extendedprice * l_discount')} AS promo_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four conjunctive predicates, all pushed to the vectorized parquet
    reader (min/max row-group pruning on l_shipdate at scale), then a single
    partial+final decimal sum — the minimal-IO plan for a 100 TB scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        exact_sum(F.col("l_extendedprice") * F.col("l_discount"), "promo_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Exact order-statistic quantiles (percentile_disc semantics) per group.
# Deterministic across engines because the quantile *selects* an existing
# value (row_number on a total order) instead of interpolating — no float
# arithmetic to diverge (OP-31/36 family; the distributed exact-percentile
# pattern).
# --------------------------------------------------------------------------
@register_local(
    "quantiles_by_priority",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN o_totalprice END) AS p50_totalprice,
           max(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN o_totalprice END) AS p90_totalprice,
           max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99_totalprice,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           max(n) AS n_orders
    FROM t
    GROUP BY o_orderpriority
    """,
)
def quantiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 as order statistics: one shuffle on the group key,
    in-partition sort, row_number + count windows share the same sort order
    (single Window physical node), then a hash agg picks the selected rows.
    The tie-break on unique o_orderkey makes rank→value total and identical
    in any engine. At 100 TB the same plan holds per group; for ungrouped
    global quantiles use approx_quantile_sketch (the sketch twin below)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    t = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
    )

    def pick(p: float, alias: str):
        hit = F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.max(F.when(hit, F.col("o_totalprice"))).alias(alias)

    return t.groupBy("o_orderpriority").agg(
        pick(0.50, "p50_totalprice"),
        pick(0.90, "p90_totalprice"),
        pick(0.99, "p99_totalprice"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.max("n").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# The SQL entry point: one ANSI text, two engines. The engine's query
# surface is equally reachable through spark.sql() over registered views —
# this query's Spark side and its DuckDB oracle are the SAME string.
# --------------------------------------------------------------------------
_SQL_BOTH_ENGINES = """
    SELECT o_orderpriority,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority, CAST(year(o_orderdate) AS INT)
"""


@register_local("sql_interface_revenue", oracle=_SQL_BOTH_ENGINES)
def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative parity proof: the literal oracle string is executed by
    spark.sql() over a temp view — Catalyst plans it to the identical
    scan→partial-agg→final-agg as the DataFrame API (SQL and DataFrame are
    the same logical plan language)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_BOTH_ENGINES)


# --------------------------------------------------------------------------
# Skew-mitigation surface (VERDICT r4 #5): the salted-join + two-stage-agg
# plan rewrites from operators/skew.py, driven by a registered query so the
# salted shape appears in PLANS.md and gets an oracle-parity row. events'
# event_type has 5 distinct values — every key is "hot" relative to a
# 32-task shuffle (an unsalted join/agg puts ALL rows on 5 tasks; salting
# spreads each key across n_salts tasks). Results are row-identical to the
# unsalted form by construction, which is exactly what the plain-SQL
# oracle checks.
# --------------------------------------------------------------------------
@register(
    "salted_join_hot_events",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type,
             CAST(length(event_type) AS INT) AS type_len
      FROM events
    )
    SELECT e.event_type, d.type_len,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           count(*) AS n_rows
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY e.event_type, d.type_len
    """,
)
def salted_join_hot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact⋈dim through the skew path, with the SALTING DECISION
    made by the engine (VERDICT r8 #7): a bounded key-histogram probe
    (one aggregate, rows = key cardinality — at 100 TB you'd read table
    stats or the count-min heavy-hitter query instead) feeds
    `choose_salting`, which encodes the measured crossover from bench.py's
    skew sweep — salting pays above ~5M fact rows at a ≥25%-hot key,
    and below that it's a wash or a loss. When it says salt, the join
    keys the shuffle on (event_type, salt) — splitting each hot key 8
    ways — and `two_stage_agg` finishes with the partial-on-(key, salt) /
    final-on-key combiner split; when it says don't (all test SFs — the
    fixture is small and ~uniform), both helpers degenerate to the plain
    join + single-stage aggregate. Either way the rows are bit-identical
    to the unsalted oracle join (decimal-exact sums are
    order-independent); the salted tier itself stays row-identity-tested
    in tests/test_skew.py and PRICED per-round by the bench sweep. The
    dim side is merge-hinted — broadcast would hide the skewed shuffle
    this query exists to manage."""
    from ..operators.skew import choose_salting, salted_join, two_stage_agg

    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.groupBy("event_type")
        .count()
        .agg(F.sum("count").alias("n"), F.max("count").alias("hot"))
        .first()
    )
    n_salts = choose_salting(
        int(hist["n"]), int(hist["hot"]) / int(hist["n"]), n_salts=8
    )
    dim = (
        ev.select(
            "event_type", F.length("event_type").cast("int").alias("type_len")
        )
        .distinct()
        .hint("merge")
    )
    joined = salted_join(
        ev.select("event_id", "event_type", "value"),
        dim,
        on="event_type",
        n_salts=n_salts,
        salt_source="event_id",
    )
    agg = two_stage_agg(
        joined,
        keys=["event_type", "type_len"],
        sum_cols=["value"],
        n_salts=n_salts,
        salt_source="event_id",
    )
    return agg.select(
        "event_type",
        "type_len",
        F.col("sum_value"),
        F.col("n_rows"),
    )


@register_local(
    "two_stage_agg_hot_keys",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           count(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)
def two_stage_agg_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed-AGGREGATION half of operators/skew.py on its own (the
    join half is `salted_join_hot_events`), with the salt count decided
    by `choose_salting` from a bounded key-histogram probe (VERDICT r8
    #7). When the crossover rule says salt (≥5M rows, ≥25%-hot key),
    `two_stage_agg` splits the hot key — partial aggregate on
    (event_type, salt), final on event_type, so the second shuffle moves
    keys×salts rows, not the corpus; at test SFs the rule says don't and
    the helper degenerates to the single-stage aggregate. Decimal-exact
    sums are order-independent, so both tiers are bit-identical to the
    plain oracle aggregate; the salted tier stays row-identity-tested in
    tests/test_skew.py and priced by bench.py's sweep."""
    from ..operators.skew import choose_salting, two_stage_agg

    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.groupBy("event_type")
        .count()
        .agg(F.sum("count").alias("n"), F.max("count").alias("hot"))
        .first()
    )
    n_salts = choose_salting(
        int(hist["n"]), int(hist["hot"]) / int(hist["n"]), n_salts=8
    )
    return two_stage_agg(
        ev.select("event_id", "event_type", "value"),
        keys=["event_type"],
        sum_cols=["value"],
        n_salts=n_salts,
        salt_source="event_id",
    ).select("event_type", "sum_value", "n_rows")


# --------------------------------------------------------------------------
# Bucketed-storage surface (VERDICT r4 #7): `write_bucketed`'s
# pay-the-shuffle-once layout, driven end-to-end by a registered query so
# the Exchange-free fact⋈fact join is visible in PLANS.md and carries an
# oracle-parity row. The layout cost (one bucketBy write per side) is paid
# at call time, untimed; the RETURNED plan — SMJ + aggregate with ZERO
# Exchange — is what a repeated fact⋈fact workload pays per query at
# 100 TB, and the query self-checks that property at build time.
# --------------------------------------------------------------------------
@register_local(
    "bucketed_join_orders_lineitem",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           max(o.o_totalprice) AS o_totalprice,
           count(*) AS n_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY l.l_orderkey
    """,
)
def bucketed_join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders with BOTH sides read from bucketed tables on the
    join key (8 buckets, bucket-sorted): the SMJ consumes the bucketed
    layout directly and the per-orderkey aggregate reuses the same
    clustering, so the whole returned plan contains zero shuffle
    Exchanges — verified here at plan-build time, not just in
    tests/test_bucketing.py. The oracle runs the plain unbucketed join:
    layout must never change results."""
    import os
    import shutil
    from urllib.parse import urlparse

    from ..sources.tables import write_bucketed

    # A managed table whose LOCATION survived a previous session (the
    # catalog forgot it, the directory didn't) makes saveAsTable throw
    # LOCATION_ALREADY_EXISTS — drop both namespaces before writing.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("li_bkt_q", "o_bkt_q"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_bkt_q", ("l_orderkey",), ("l_orderkey",))
    write_bucketed(o, "o_bkt_q", ("o_orderkey",), ("o_orderkey",))
    lib, ob = spark.table("li_bkt_q"), spark.table("o_bkt_q")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        lib.join(ob.hint("merge"), lib.l_orderkey == ob.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum(rev, "revenue"),
            F.max("o_totalprice").alias("o_totalprice"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    if "Exchange" in plan:
        raise AssertionError(
            "bucketed fact⋈fact join must plan Exchange-free, got:\n" + plan
        )
    return out


# --------------------------------------------------------------------------
# Small-files compaction surface (VERDICT r4 #7, second half): the
# streaming-ingest small-files problem and its compaction fix, driven
# end-to-end by a registered query. Harness scaffolding (the 32-file
# "micro-batch" write and the compaction rewrite) runs at call time; the
# RETURNED plan is the post-compaction scan+filter+agg — and the query
# self-checks that the compacted layout restored min/max pruning by
# asserting the selective scan reads fewer files than the ingest left.
# --------------------------------------------------------------------------
@register_local(
    "compacted_scan_pricing",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey < (SELECT max(l_orderkey) // 4 FROM lineitem)
    GROUP BY l_returnflag
    """,
)
def compacted_scan_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem scattered into 32 tiny files (a file-per-micro-batch
    streaming writer's at-rest shape), then compacted with
    `compact_parquet(sort_cols=(l_orderkey,))` — the range-sorted
    rewrite gives each output file a disjoint l_orderkey range, so the
    narrow key-range predicate below prunes whole files via parquet
    min/max stats instead of opening all 32. The aggregate hash-matches
    the oracle computed on the ORIGINAL table: compaction must never
    change results."""
    import glob
    import os
    import tempfile

    from ..sources.tables import compact_parquet

    li = load_table(spark, sf_dir, "lineitem")
    # The compacted directory is kept for the session (not deleted):
    # at scale it IS the materialized at-rest table the compaction
    # produced, and keeping it means the RETURNED DataFrame's plan is
    # the real post-compaction scan (visible to the plan audit), not a
    # checkpoint of it.
    td = tempfile.mkdtemp(prefix="compact_q_")
    src, dest = f"{td}/small", f"{td}/compacted"
    li.repartition(32).write.mode("overwrite").parquet(src)
    total = sum(
        os.path.getsize(p) for p in glob.glob(f"{src}/*.parquet")
    )
    compact_parquet(
        spark,
        src,
        dest,
        target_file_bytes=total // 4 + 1,
        sort_cols=("l_orderkey",),
    )
    # SF-relative key range (bottom quarter of the key space) so the
    # query is selective — and the pruning assert meaningful — at
    # every scale factor
    bound = li.agg(F.max("l_orderkey")).collect()[0][0] // 4
    out = (
        spark.read.parquet(dest)
        .filter(F.col("l_orderkey") < bound)
        .groupBy("l_returnflag")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    # the pruning claim, enforced: the sorted compacted layout must
    # let this key-range scan skip files (pre-compaction it touches
    # all 32)
    n_read = (
        spark.read.parquet(dest)
        .filter(F.col("l_orderkey") < bound)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    n_files = len(glob.glob(f"{dest}/*.parquet"))
    if n_files > 1 and n_read >= n_files:
        raise AssertionError(
            f"compacted range scan read {n_read}/{n_files} files — "
            "min/max pruning not effective"
        )
    return out


# --------------------------------------------------------------------------
# Z-order (multi-dimensional) clustering: `compacted_scan_pricing` proves
# single-key range compaction; real tables get sliced along MORE than one
# dimension (order ranges AND part ranges), and a single-key sort leaves
# the second dimension's min/max stats useless. Interleaving the bits of
# both keys (Morton/Z-curve — Delta's OPTIMIZE ZORDER mechanism) gives
# every output file a compact rectangle in (orderkey, partkey) space, so
# min/max pruning fires on EITHER dimension.
# --------------------------------------------------------------------------
_Z_BITS = 10  # 10+10-bit grid → 20-bit z-value


def _zvalue(a, b):
    """Morton interleave of two `_Z_BITS`-bit nonnegative ints — a fixed
    2·_Z_BITS-term codegen expression (shift/mask/or), integer-exact and
    SQL-expressible on both engines."""
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(
            F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("bigint"),
            2 * i + 1,
        )
    return z


# local tier since r11: composed verbatim in the driver-tier
# io_layout_bundle, which carries its construct's hash row
@register_local(
    "zorder_compacted_scan",
    oracle="""
    WITH b AS (
      SELECT max(l_orderkey) // 4 AS ob, max(l_partkey) // 4 AS pb
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem CROSS JOIN b
    WHERE l_orderkey < b.ob AND l_partkey < b.pb
    GROUP BY l_returnflag
    """,
)
def zorder_compacted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem rewritten in Z-order on (l_orderkey, l_partkey): both keys
    quantize to a 1024-cell grid, their bits interleave into a 20-bit
    Morton value, and the rewrite range-partitions + sorts on it — every
    output file covers a compact RECTANGLE of the key plane, so a scan
    restricted in either dimension (here: bottom quarter of both) prunes
    files via ordinary parquet min/max stats. Self-checks that the 2-D
    scan reads fewer files than the layout holds AND that each single-
    dimension predicate prunes on its own — the property a single-key
    sort cannot give the second key. The aggregate hash-matches the
    oracle on the ORIGINAL table: layout must never change results.

    At 100 TB this is the OPTIMIZE ZORDER pattern: one
    repartitionByRange(zv) pass per partition-directory; the z-value is
    a pure codegen expression, never a UDF."""
    import glob
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    ).collect()[0]
    mo, mp = mx["mo"], mx["mp"]
    grid = 1 << _Z_BITS
    a = (F.col("l_orderkey") * grid / F.lit(mo + 1)).cast("bigint")
    b = (F.col("l_partkey") * grid / F.lit(mp + 1)).cast("bigint")
    td = tempfile.mkdtemp(prefix="zorder_q_")
    dest = f"{td}/zordered"
    try:
        (
            li.withColumn("zv", _zvalue(a, b))
            .repartitionByRange(16, "zv")
            .sortWithinPartitions("zv")
            .write.mode("overwrite")
            .parquet(dest)
        )
        ob, pb = mo // 4, mp // 4
        zli = spark.read.parquet(dest)
        out = (
            zli.filter(
                (F.col("l_orderkey") < ob) & (F.col("l_partkey") < pb)
            )
            .groupBy("l_returnflag")
            .agg(
                exact_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    "revenue",
                ),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )
        n_files = len(glob.glob(f"{dest}/*.parquet"))

        def _n_read(cond) -> int:
            return (
                zli.filter(cond)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .count()
            )

        if n_files > 2:
            checks = {
                "2-D": (F.col("l_orderkey") < ob) & (F.col("l_partkey") < pb),
                "orderkey-only": F.col("l_orderkey") < ob,
                "partkey-only": F.col("l_partkey") < pb,
            }
            for label, cond in checks.items():
                n_read = _n_read(cond)
                if n_read >= n_files:
                    raise AssertionError(
                        f"z-ordered {label} scan read {n_read}/{n_files} "
                        "files — multi-dimensional pruning not effective"
                    )
        # the per-dimension file-skip asserts above already ran against
        # the on-disk layout; only the aggregate must outlive the temp
        # dir (ADVICE r7: repeated bench runs leaked these dirs). The
        # plan gate audits the pruned-scan plan this checkpoint executes.
        return out.localCheckpoint()
    finally:
        shutil.rmtree(td, ignore_errors=True)


# --------------------------------------------------------------------------
# Schema evolution on read: long-lived at-rest tables GROW columns (a new
# quality score starts being written mid-stream); old files lack the
# column, new files carry it, and the reader must reconcile —
# `mergeSchema` unions the file footers and back-fills NULL for files
# missing the column. A 100 TB table cannot be rewritten every time the
# pipeline adds a field, so this read path is the operational contract.
# --------------------------------------------------------------------------
# local tier since r11: composed verbatim in the driver-tier
# io_layout_bundle, which carries its construct's hash row
@register_local(
    "schema_evolution_read",
    oracle="""
    WITH evolved AS (
      SELECT source,
             -- blank-text guard: Spark's tokens() gives 0 tokens -> q = 0.0
             -- for a whitespace-only doc; string_split_regex(trim('')) gives
             -- [''] (len 1, q = 0.01) — pin the 0-token value explicitly
             CASE WHEN doc_id % 2 = 1
                  THEN CASE WHEN len(list_filter(string_split_regex(
                                 trim(text), '\\s+'), x -> x != '')) = 0
                       THEN 0.0
                       ELSE round(LEAST(len(string_split_regex(trim(text),
                                                          '\\s+')) / 50.0,
                                   1.0) * 0.5, 6) END END AS quality
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           count(quality) AS n_with_quality,
           CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
    FROM evolved GROUP BY source
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two write generations of one table — the ORIGINAL schema (even
    doc_ids) and an EVOLVED schema that added a `quality` column (odd
    doc_ids) — read back together with `mergeSchema`: the union schema
    surfaces, legacy rows get NULL quality, and the per-source rollup
    (doc counts, evolved-row counts, decimal-exact quality sum)
    hash-matches an oracle that recomputes the generation split. The
    query self-checks that the merged schema actually contains the
    evolved column and that legacy files read as NULLs rather than
    erroring.

    Scale note: `mergeSchema` costs one footer read per FILE at planning
    time — fine per partition-directory, a driver hazard across 10⁸
    files; at 100 TB pin the union schema from the catalog (read with an
    explicit schema) and keep this path for the migration window."""
    import shutil
    import tempfile

    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    td = tempfile.mkdtemp(prefix="schema_ev_")
    try:
        legacy = d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "source"
        )
        # the evolved generation adds a simple length-saturation quality
        # column (6dp-rounded → exact in decimal)
        q = F.round(
            F.least(
                F.size(tokens(F.col("text"))) / F.lit(50.0), F.lit(1.0)
            )
            * 0.5,
            6,
        )
        evolved = d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "source", q.alias("quality")
        )
        legacy.write.mode("overwrite").parquet(f"{td}/gen=0")
        evolved.write.mode("overwrite").parquet(f"{td}/gen=1")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{td}/gen=0", f"{td}/gen=1"
        )
        if "quality" not in merged.columns:
            raise AssertionError(
                "mergeSchema read lost the evolved column: "
                + str(merged.columns)
            )
        out = merged.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("quality").alias("n_with_quality"),
            F.sum(F.col("quality").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_quality"),
        )
        # only the rollup must outlive the temp generations (ADVICE r7:
        # repeated bench runs leaked these dirs); the plan gate audits the
        # mergeSchema read plan this checkpoint executes
        return out.localCheckpoint()
    finally:
        shutil.rmtree(td, ignore_errors=True)
