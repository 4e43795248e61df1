"""Bucketed co-located joins: the pay-the-shuffle-once storage layout.

Writes lineitem and orders bucketed on the join key, then proves the
bucketed equi-join plans WITHOUT any shuffle Exchange (and returns the
same rows as the plain join).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.sources.tables import (
    load_table,
    write_bucketed,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bucketed", ("l_orderkey",), ("l_orderkey",))
    write_bucketed(o, "o_bucketed", ("o_orderkey",), ("o_orderkey",))
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li, o = spark.table("li_bucketed"), spark.table("o_bucketed")
    joined = li.join(
        o.hint("merge"), li.l_orderkey == o.o_orderkey
    )  # force SMJ so a broadcast can't mask the Exchange question
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan

    # same rows as the unbucketed join
    li_raw = load_table(spark, SF_DIR, "lineitem")
    o_raw = load_table(spark, SF_DIR, "orders")
    want = li_raw.join(o_raw, li_raw.l_orderkey == o_raw.o_orderkey).count()
    assert joined.count() == want


def test_bucketed_agg_has_no_shuffle(spark, bucketed_tables):
    li = spark.table("li_bucketed")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert agg.count() == li.select("l_orderkey").distinct().count()
