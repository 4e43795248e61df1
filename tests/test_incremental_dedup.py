"""Unit tests for the incremental LSH candidate join
(operators/dedup.py::incremental_lsh_candidates) — the subtleties the
sf-corpus parity check can't isolate:

1. delta-delta double match: a pair with BOTH members in the delta meets
   itself from both join sides, so shared bands must be counted DISTINCT
   (a naive count(*) would double it).
2. equivalence: candidates touching the delta == the full self-join's
   candidates filtered to delta-touching pairs, with identical
   shared_bands counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.dedup import (
    incremental_lsh_candidates,
    lsh_candidate_pairs,
    minhash_banded,
    minhash_signatures,
)


def _banded(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df, n=2, k=16)
    return minhash_banded(sig, bands=4, rows=4)


def test_delta_delta_pair_counts_bands_once(spark):
    # docs 4 and 9 are identical (and both in the delta doc_id % 5 == 4):
    # every band agrees, and the pair is found from both join sides.
    rows = [
        (4, "alpha beta gamma delta epsilon zeta"),
        (9, "alpha beta gamma delta epsilon zeta"),
        (1, "one two three four five six seven"),
    ]
    banded = _banded(spark, rows)
    delta = banded.filter(F.col("doc_id") % 5 == 4)
    got = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(banded, delta).collect()
    }
    assert got == {(4, 9): 4}


def test_incremental_equals_filtered_full_join(spark):
    rows = [
        (i, f"tok{i % 3} tok{(i + 1) % 3} tok{i % 5} common words here")
        for i in range(15)
    ]
    banded = _banded(spark, rows)
    delta = banded.filter(F.col("doc_id") % 5 == 4)
    inc = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(banded, delta).collect()
    }
    sig = minhash_signatures(
        spark.createDataFrame(rows, "doc_id long, text string"),
        n=2,
        k=16,
    )
    full = {
        (r.id_a, r.id_b): r.shared_bands
        for r in lsh_candidate_pairs(sig, bands=4, rows=4).collect()
        if r.id_a % 5 == 4 or r.id_b % 5 == 4
    }
    assert inc == full
    assert len(inc) > 0  # the fixture must actually exercise the join


def test_unmerged_delta_finds_new_vs_new_pairs(spark):
    # The true append path (ADVICE r4): the delta is freshly ingested and
    # NOT yet merged into the at-rest table. Two new documents that
    # duplicate each other must still surface — delta_in_full=False adds
    # the delta self-join term that finds them.
    rows_at_rest = [(1, "one two three four five six seven")]
    rows_delta = [
        (14, "alpha beta gamma delta epsilon zeta"),
        (19, "alpha beta gamma delta epsilon zeta"),
    ]
    at_rest = _banded(spark, rows_at_rest)
    delta = _banded(spark, rows_delta)

    # probe-only (precondition violated): the new-vs-new pair is missed
    probe_only = incremental_lsh_candidates(at_rest, delta).collect()
    assert probe_only == []

    got = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(
            at_rest, delta, delta_in_full=False
        ).collect()
    }
    assert got == {(14, 19): 4}


def test_unmerged_delta_never_double_counts_merged_rows(spark):
    # delta_in_full=False must stay correct even if a caller passes a
    # full table that DOES already contain the delta: the probe and the
    # self-join emit the same (pair, band) rows, and countDistinct(band)
    # collapses them — shared_bands identical to the default path.
    rows = [
        (4, "alpha beta gamma delta epsilon zeta"),
        (9, "alpha beta gamma delta epsilon zeta"),
        (1, "one two three four five six seven"),
    ]
    banded = _banded(spark, rows)
    delta = banded.filter(F.col("doc_id") % 5 == 4)
    got = {
        (r.id_a, r.id_b): r.shared_bands
        for r in incremental_lsh_candidates(
            banded, delta, delta_in_full=False
        ).collect()
    }
    assert got == {(4, 9): 4}
