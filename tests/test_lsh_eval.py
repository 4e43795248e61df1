"""Structural invariants of lsh_dedup_recall_eval beyond the oracle hash:

- band-refinement subset law: with the SAME 16-permutation signature, a
  pair colliding in a 4-row band has all 4 minima equal, so it collides in
  BOTH nested 2-row bands — cand(4 bands × 4 rows) ⊆ cand(8 bands × 2
  rows). Recall is therefore monotone in band granularity.
- bookkeeping bounds: n_hit ≤ min(n_cand, n_truth); recall/precision in
  [0, 1]; planted exact near-dups are found at full recall by the finer
  banding (an exact duplicate pair agrees on every minimum).
"""

from __future__ import annotations

import pytest

from stock_market_big_data_project_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from stock_market_big_data_project_spark.plans.registry import (
    get_query,
    load_all_plans,
)

from .conftest import SF_DIR

load_all_plans()


@pytest.fixture(scope="module")
def planted(spark):
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before the night ends",
        "sphinx of black quartz judge my vow said the old librarian",
        "how vexingly quick daft zebras jump over the sleeping guard",
    ]
    rows = []
    doc_id = 0
    for t in base:
        for rep in range(3):  # 3 exact copies of each -> true near-dup pairs
            rows.append((doc_id, t))
            doc_id += 1
        rows.append((doc_id, t + " entirely different suffix material"))
        doc_id += 1
    # unrelated filler
    for k in range(20):
        rows.append((doc_id, f"filler document number {k} with words w{k} x{k} y{k} z{k}"))
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_band_refinement_subset(planted):
    sig = minhash_signatures(planted, n=3, k=16)
    c44 = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, bands=4, rows=4).collect()
    }
    c82 = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, bands=8, rows=2).collect()
    }
    assert c44 <= c82
    # exact-copy pairs agree on every minimum -> found by both bandings
    exact_pairs = {
        (a, b)
        for g in range(4)
        for a in range(g * 4, g * 4 + 3)
        for b in range(a + 1, g * 4 + 3)
    }
    assert exact_pairs <= c44


def test_recall_eval_bounds(spark):
    rows = {
        r["lsh_config"]: r
        for r in get_query("lsh_dedup_recall_eval")(spark, SF_DIR).collect()
    }
    assert set(rows) == {"4x4", "8x2"}
    n_truth = {r["n_truth"] for r in rows.values()}
    assert len(n_truth) == 1  # same ground truth for every config
    for r in rows.values():
        assert 0 <= r["n_hit"] <= min(r["n_cand"], r["n_truth"])
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 <= r["prec"] <= 1.0
    # finer banding can only add candidates -> recall is monotone
    assert rows["8x2"]["recall"] >= rows["4x4"]["recall"]
    assert rows["8x2"]["n_cand"] >= rows["4x4"]["n_cand"]
