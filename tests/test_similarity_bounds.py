"""Guards for the DECIMAL(18,15) accumulation bound in operators/similarity.py.

The exact-dot accumulator has 3 integer digits; its safety argument
(module docstring) rests on the embeddings being unit-normalized so every
partial sum stays ≪ 10³. Verify that on the fixtures, plus the tree-sum
precision-growth property.
"""

from __future__ import annotations

import duckdb
import numpy as np

from .conftest import SF_DIR


def test_embeddings_unit_normalized():
    con = duckdb.connect()
    norms = con.execute(
        f"""SELECT list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x))
            FROM '{SF_DIR}/embeddings.parquet'"""
    ).fetchall()
    con.close()
    arr = np.array([n for (n,) in norms])
    # ‖x‖² ≈ 1 ⇒ |dot| ≤ 1, LSH projection ≤ 0.5·√dims·‖x‖ = 4 ≪ 10³
    assert 0.9 < arr.min() and arr.max() < 1.1


def test_tree_sum_depth_keeps_scale():
    # 64 DECIMAL(18,15) terms summed as a balanced tree: precision grows by
    # ~1 per level (depth 6 → ≤ 24+ε digits), never hitting the 38 cap where
    # Spark's allowPrecisionLoss would silently drop the scale.
    depth = int(np.ceil(np.log2(64)))
    assert 18 + depth + 1 < 38


def test_ivf_probe_recall_and_consistency(spark):
    """IVF (probe 2/8 cells) vs brute force on the same 10 queries: recall
    must beat the random-cell floor (n_probe/n_cells = 0.25, minus margin
    for the tiny fixture), and any pair both searches return must carry the
    identical exact-decimal cosine (the rescore path is shared)."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )

    load_all_plans()
    all_q = {**QUERIES, **LOCAL_QUERIES}
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in all_q["embedding_bruteforce_topk"](spark, SF_DIR).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in all_q["embedding_ivf_topk"](spark, SF_DIR).collect()
    }
    common = set(bf) & set(ivf)
    assert len(common) / len(bf) >= 0.2
    for pair in common:
        assert bf[pair] == ivf[pair], pair


def test_lsh_near_dup_subset_of_bruteforce(spark):
    """The banded-LSH near-dup pairs must be a strict subset of the exact
    brute-force answer with identical cosines (the rescore is shared).

    No recall floor here: the fixture's ≥0.4-cosine pairs sit at ~66°,
    far outside the near-dup regime banded sign-LSH is selective for, so
    the 12-bit band keys (which keep candidates ~linear instead of the old
    4-bit keys' Θ(n²/16)) recover only the curve's thin tail on it.
    Recall is asserted where the method is designed to have it:
    test_lsh_planted_near_dups_linear_candidates (≥0.85 on planted
    ~0.98-cosine dups)."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )

    load_all_plans()
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in LOCAL_QUERIES["embedding_near_dup_bruteforce"](
            spark, SF_DIR
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in {**QUERIES, **LOCAL_QUERIES}["embedding_near_dup_pairs"](
            spark, SF_DIR
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert len(lsh) > 0
    for pair, cos in lsh.items():
        assert exact[pair] == cos, pair


def _planted_corpus(n_base: int):
    """Deterministic corpus: unit-norm random base + every-10th vector
    re-planted as a ~0.98-cosine near-copy. float32-rounded up front so
    the Spark side sees exactly these values."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(n_base, 64)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    idx = np.arange(0, n_base, 10)
    dup = base[idx] + 0.02 * rng.randn(len(idx), 64)
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    mat = np.vstack([base, dup]).astype(np.float32)
    planted = {(int(i), int(n_base + j)) for j, i in enumerate(idx)}
    return mat, planted


def _spark_corpus(spark, mat):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(mat)],
        "vec_id bigint, embedding array<float>",
    )


def test_lsh_planted_near_dups_linear_candidates(spark):
    """The scale guarantee the r02 parameterization lacked: with band-key
    space ≫ corpus (128 planes as 8×16-bit bands), candidate volume stays
    a small multiple of n — never the Θ(n²/16) of 4-bit keys — while
    recall on actual near-dups (~0.98 cosine) stays ≥ 0.85. Measured at
    two corpus sizes; growth must stay well under the quadratic curve
    (4× rows would quadruple per-row volume there)."""
    from stock_market_big_data_project_spark.operators.similarity import (
        lsh_band_candidates,
    )

    stats = {}
    for n_base in (300, 1200):
        mat, planted = _planted_corpus(n_base)
        df = _spark_corpus(spark, mat)
        cand = {
            (r.id_a, r.id_b)
            for r in lsh_band_candidates(df, n_planes=128, bands=8).collect()
        }
        n = len(mat)
        recall = len(planted & cand) / len(planted)
        stats[n] = len(cand)
        assert recall >= 0.85, (n_base, recall)
        assert len(cand) <= 0.6 * n, (n_base, len(cand))
    # 4× rows: quadratic candidates would grow ~16×; require ≤ 3× the
    # row growth (the planted pairs themselves grow linearly)
    assert stats[1320] <= 12 * max(stats[330], 1), stats


def test_lsh_fast_path_equals_decimal_reference(spark):
    """The vectorized float64+margin band keys must equal the pure-Catalyst
    exact-decimal fold bit for bit (the sign-margin proof in
    operators/similarity.py, exercised end to end)."""
    from stock_market_big_data_project_spark.operators._planes import hyperplanes
    from stock_market_big_data_project_spark.operators.similarity import (
        _band_keys_decimal,
        lsh_band_keys,
    )
    from stock_market_big_data_project_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    fast = sorted(
        (r.vec_id, r.band, r.band_key)
        for r in lsh_band_keys(emb, n_planes=16, bands=4).collect()
    )
    exact = sorted(
        (r.vec_id, r.band, r.band_key)
        for r in _band_keys_decimal(emb, hyperplanes(16, 64)).collect()
    )
    assert fast == exact


def test_near_dup_bruteforce_size_gate(spark):
    """The brute-force baseline must refuse a corpus larger than its
    driver-collect gate instead of silently materializing it."""
    import pytest as _pytest

    from stock_market_big_data_project_spark.operators.similarity import (
        near_dup_pairs,
    )
    from stock_market_big_data_project_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    with _pytest.raises(ValueError, match="lsh_near_dup_pairs"):
        near_dup_pairs(emb, max_rows=10)


def test_lsh_max_bucket_bounds_adversarial_corpus(spark):
    """Adversarial near-constant-vector corpus: every vector signs
    identically on every hyperplane, so each band has ONE bucket holding
    the whole corpus and the uncapped candidate set is the full n·(n−1)/2
    cross join. With max_bucket the hot buckets drop out and candidates
    are bounded by bands · max_bucket²/2 — the same guardrail the
    MinHash/SimHash bands carry."""
    import numpy as np

    from stock_market_big_data_project_spark.operators.dedup import (
        band_bucket_histogram,
    )
    from stock_market_big_data_project_spark.operators.similarity import (
        lsh_band_candidates,
        lsh_band_keys,
    )

    n = 120
    rng = np.random.RandomState(11)
    base = np.ones(64) / 8.0  # unit-norm constant direction
    mat = (base[None, :] + 1e-6 * rng.randn(n, 64)).astype(np.float32)
    df = _spark_corpus(spark, mat)

    bands = 8
    # the histogram makes the skew visible before any join runs
    hist = band_bucket_histogram(
        lsh_band_keys(df, n_planes=96, bands=bands), ["band", "band_key"]
    ).collect()
    assert max(r.bucket_size for r in hist) == n  # one bucket per band = all

    uncapped = lsh_band_candidates(df, n_planes=96, bands=bands).count()
    assert uncapped == n * (n - 1) // 2  # degenerate cross join

    cap = 10
    capped = lsh_band_candidates(
        df, n_planes=96, bands=bands, max_bucket=cap
    ).count()
    assert capped <= bands * cap * (cap - 1) // 2
