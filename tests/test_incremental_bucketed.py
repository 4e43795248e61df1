"""The incremental-dedup scale claim, measured on a real plan: with the
at-rest banded signature table AND the delta's band keys bucketed on
(band, band_hash), the incremental candidate probe
(operators/dedup.py::incremental_lsh_candidates) plans WITHOUT any
shuffle Exchange — the existing corpus is never re-shuffled for an
append, which is the property that makes daily dedup O(delta) at
100 TB. Rows must equal the unbucketed probe's."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.dedup import (
    incremental_lsh_candidates,
    minhash_banded,
    minhash_signatures,
)
from stock_market_big_data_project_spark.sources.tables import (
    load_table,
    write_bucketed,
)

from .conftest import SF_DIR

_KEYS = ("band", "band_hash")


@pytest.fixture(scope="module")
def banded_tables(spark):
    d = load_table(spark, SF_DIR, "documents")
    sig = minhash_signatures(d, n=3, k=16)
    banded = minhash_banded(sig, bands=4, rows=4)
    write_bucketed(banded, "banded_at_rest", _KEYS, _KEYS)
    write_bucketed(
        banded.filter(F.col("doc_id") % 5 == 4), "banded_delta", _KEYS, _KEYS
    )
    yield banded
    spark.sql("DROP TABLE IF EXISTS banded_at_rest")
    spark.sql("DROP TABLE IF EXISTS banded_delta")


def test_bucketed_incremental_probe_has_no_shuffle(spark, banded_tables):
    full = spark.table("banded_at_rest")
    delta = spark.table("banded_delta").hint("merge")  # SMJ: no broadcast
    # can mask the Exchange question
    cand = incremental_lsh_candidates(full, delta)
    plan = cand._sc._jvm.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    join_plan = plan.split("HashAggregate")[-1]  # below the final agg
    assert "SortMergeJoin" in plan
    # the candidate JOIN must be Exchange-free (the pair aggregate above
    # it legitimately shuffles its ~|candidates| rows on (id_a, id_b))
    assert "Exchange" not in join_plan, plan

    banded = banded_tables
    want = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(
            banded, banded.filter(F.col("doc_id") % 5 == 4)
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(
            spark.table("banded_at_rest"), spark.table("banded_delta")
        ).collect()
    }
    assert got == want
    assert len(got) > 0
