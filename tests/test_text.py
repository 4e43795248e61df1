"""Unit tests for operators/text.py edge cases the sf-corpus parity
check doesn't isolate."""

from __future__ import annotations

from stock_market_big_data_project_spark.operators.text import (
    repetition_stats,
)


def test_top_bigram_frac_capped_at_one(spark):
    # Overlapping repeated runs: 'a a a' has top bigram 'a a' with count 2
    # (positions 1-2 and 2-3 overlap), so uncapped coverage would be
    # 2*2/3 = 4/3 > 1. The Gopher-style name promises a FRACTION; the cap
    # keeps it in [0, 1] (ADVICE r4).
    df = spark.createDataFrame(
        [(1, "a a a"), (2, "x y x y z")], "doc_id long, text string"
    )
    got = {r.doc_id: r.asDict() for r in
           repetition_stats(df).collect()}
    assert got[1]["top_bigram_frac"] == 1.0
    # non-degenerate doc unaffected by the cap: top bigram 'x y' count 2,
    # coverage 2*2/5 = 0.8
    assert got[2]["top_bigram_frac"] == 0.8
