"""Hypothesis property tests for the round-5 operators — random shapes
the fixture corpora can't produce (oversize docs, degenerate weights,
unmerged deltas with internal duplicates)."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.dedup import (
    incremental_lsh_candidates,
    lsh_candidate_pairs,
    minhash_banded,
    minhash_signatures,
)
from stock_market_big_data_project_spark.operators.packing import (
    pack_sequences_ffd,
)

SETTINGS = settings(
    max_examples=int(os.environ.get("HYP_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (id, length) lists with unique ids, lengths spanning 0..3× capacity
packing_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=384),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@SETTINGS
@given(rows=packing_rows_st)
def test_ffd_invariants_random_shapes(spark, rows):
    CAP = 128
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = pack_sequences_ffd(df, capacity=CAP, n_shards=4).collect()
    # exactly-once, faithful lengths
    assert {(r.doc_id, r.len) for r in got} == set(rows)
    by_seq: dict[int, list] = {}
    for r in got:
        assert r.truncated == (r.len > CAP)
        by_seq.setdefault(r.seq, []).append(r)
    for members in by_seq.values():
        members.sort(key=lambda r: r.offset)
        expect = 0
        for r in members:
            assert r.offset == expect
            expect += min(r.len, CAP)
        assert expect <= CAP


# small synthetic corpora: a few distinct "vocabularies" so duplicates
# and near-duplicates actually occur
_doc_st = st.sampled_from(
    [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "one two three four five six seven eight nine",
        "red green blue cyan magenta yellow black white",
        "red green blue cyan magenta yellow black grey",
    ]
)
corpus_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=500), _doc_st),
    min_size=2,
    max_size=14,
    unique_by=lambda t: t[0],
)


@SETTINGS
@given(rows=corpus_st, cut=st.integers(min_value=2, max_value=5))
def test_unmerged_delta_equals_merged_probe(spark, rows, cut):
    """The delta_in_full=False contract on random corpora: probing an
    at-rest table that EXCLUDES the delta (plus the delta self-join)
    must produce exactly the same candidates as the default probe
    against the merged table."""
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df, n=2, k=16)
    banded = minhash_banded(sig, bands=4, rows=4)
    is_delta = F.col("doc_id") % cut == 0
    delta = banded.filter(is_delta)
    at_rest_only = banded.filter(~is_delta)

    unmerged = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(
            at_rest_only, delta, delta_in_full=False
        ).collect()
    }
    merged = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(banded, delta).collect()
    }
    assert unmerged == merged

    # and both equal the full self-join filtered to delta-touching pairs
    full = {
        (r.id_a, r.id_b): r.shared_bands
        for r in lsh_candidate_pairs(sig, bands=4, rows=4).collect()
        if r.id_a % cut == 0 or r.id_b % cut == 0
    }
    assert unmerged == full


weights_st = st.lists(
    st.integers(min_value=0, max_value=500),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(ws=weights_st, k=st.integers(min_value=1, max_value=40))
def test_systematic_sample_pick_count_exact(spark, ws, k):
    """Σ n_picks == k for ANY positive-total weight vector, and a
    zero-weight row is never picked."""
    total = sum(ws)
    if total == 0:
        return
    rows = [(i, w) for i, w in enumerate(ws)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    from stock_market_big_data_project_spark.operators.packing import (
        prefix_sum,
    )

    c = prefix_sum(df, "doc_id", "w", "cum")
    tot = df.agg(F.sum("w").alias("total"))
    g_hi = F.expr(f"(2*{k}*cum + total) DIV (2*total)")
    g_lo = F.expr(f"(2*{k}*(cum - w) + total) DIV (2*total)")
    out = c.crossJoin(F.broadcast(tot)).select(
        "doc_id", "w", (g_hi - g_lo).alias("n_picks")
    ).collect()
    assert sum(r.n_picks for r in out) == k
    for r in out:
        assert r.n_picks >= 0
        if r.w == 0:
            assert r.n_picks == 0
