"""Unit semantics of operators/merge.py::merge_upsert — the incremental
MERGE contract on a constructed micro-fixture: update-wins-on-tie,
tombstone removal, untouched keys carried through."""

from __future__ import annotations

import datetime as dt

from stock_market_big_data_project_spark.operators.merge import merge_upsert


def _ts(day: int):
    return dt.datetime(2024, 1, day)


def test_merge_upsert_semantics(spark):
    cols = ["k", "ts", "v", "rid", "tomb"]
    base = spark.createDataFrame(
        [
            ("carried", _ts(1), 1.0, 1, False),   # untouched key
            ("updated", _ts(1), 2.0, 2, False),   # older than update
            ("tied", _ts(5), 3.0, 3, False),      # same ts as update
            ("deleted", _ts(2), 4.0, 4, False),   # tombstoned by update
        ],
        cols,
    )
    upd = spark.createDataFrame(
        [
            ("updated", _ts(3), 20.0, 5, False),
            ("tied", _ts(5), 30.0, 6, False),     # equal ts → update wins
            ("deleted", _ts(6), 0.0, 7, True),    # tombstone
            ("inserted", _ts(4), 50.0, 8, False), # brand-new key
        ],
        cols,
    )
    out = {
        r["k"]: (r["v"], r["rid"])
        for r in merge_upsert(
            base, upd, keys=["k"], delete_col="tomb", tiebreak=["rid"]
        ).collect()
    }
    assert out == {
        "carried": (1.0, 1),
        "updated": (20.0, 5),
        "tied": (30.0, 6),
        "inserted": (50.0, 8),
    }


def test_merge_upsert_without_tombstones(spark):
    cols = ["k", "ts", "v"]
    base = spark.createDataFrame([("a", _ts(1), 1.0)], cols)
    upd = spark.createDataFrame([("a", _ts(2), 2.0), ("b", _ts(1), 9.0)], cols)
    rows = merge_upsert(base, upd, keys=["k"]).collect()
    assert {(r["k"], r["v"]) for r in rows} == {("a", 2.0), ("b", 9.0)}
