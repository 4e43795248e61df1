"""PCA family differentials: the power-iteration components against
numpy's full eigendecomposition of the SAME covariance matrix, and the
registered projection query against a pure-numpy recompute."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from stock_market_big_data_project_spark.operators.similarity import (
    pca_power_components,
    pca_project,
)
from stock_market_big_data_project_spark.plans import (
    get_query,
    LOCAL_QUERIES,
    load_all_plans,
)

from .conftest import SF_DIR

load_all_plans()


def _emb_matrix(sf_dir: str) -> np.ndarray:
    pdf = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64), pdf[
        "vec_id"
    ].to_numpy()


def test_power_iteration_matches_numpy_eigh(spark):
    cov_rows = get_query("embedding_covariance")(spark, SF_DIR).collect()
    comps = pca_power_components(cov_rows, n_components=2)
    c = np.zeros((64, 64))
    for r in cov_rows:
        c[r["d1"], r["d2"]] = r["cov"]
        c[r["d2"], r["d1"]] = r["cov"]
    evals, evecs = np.linalg.eigh(c)
    order = np.argsort(evals)[::-1]
    for k in range(2):
        v_ref = evecs[:, order[k]]
        pivot = int(np.argmax(np.abs(v_ref)))
        if v_ref[pivot] < 0:
            v_ref = -v_ref
        assert np.allclose(comps[k], v_ref, atol=1e-6), k
    # orthonormal, descending Rayleigh quotients
    assert abs(comps[0] @ comps[1]) < 1e-9
    assert abs(np.linalg.norm(comps[0]) - 1) < 1e-12
    assert comps[0] @ c @ comps[0] >= comps[1] @ c @ comps[1]


def test_projection_matches_numpy(spark):
    """True PCA scores: the projection subtracts the SAME mean the
    covariance was centered on (the dim-sum/n mean the query collects),
    so per-component score means are ~0."""
    cov_rows = get_query("embedding_covariance")(spark, SF_DIR).collect()
    comps = pca_power_components(cov_rows, n_components=2)
    mat, ids = _emb_matrix(SF_DIR)
    from decimal import ROUND_HALF_UP, Decimal

    # replicate the query's mean: decimal(18,15) dim sums / n
    mean = np.array(
        [
            float(
                sum(
                    Decimal(repr(float(x))).quantize(
                        Decimal("1e-15"), ROUND_HALF_UP
                    )
                    for x in mat[:, d]
                )
            )
            / mat.shape[0]
            for d in range(64)
        ]
    )
    expected = np.round((mat - mean[None, :]) @ comps.T, 6)
    exp = {int(i): (expected[j, 0], expected[j, 1]) for j, i in enumerate(ids)}
    got = LOCAL_QUERIES["embedding_pca_project"](spark, SF_DIR).collect()
    assert len(got) == len(exp)
    for r in got:
        e1, e2 = exp[r.vec_id]
        assert r.pc1 == e1 and r.pc2 == e2, r.vec_id
    # centered scores: each component averages to ~0
    for k in (0, 1):
        vals = [r.pc1 if k == 0 else r.pc2 for r in got]
        assert abs(sum(vals) / len(vals)) < 1e-4


def test_projection_partitioning_invariance(spark):
    """Same projections regardless of physical layout — the Arrow matmul
    is per-row arithmetic, so repartitioning cannot change values."""
    cov_rows = get_query("embedding_covariance")(spark, SF_DIR).collect()
    comps = pca_power_components(cov_rows, n_components=2)
    from stock_market_big_data_project_spark.sources.tables import load_table

    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    mu = np.full(64, 0.01)
    a = {
        r.vec_id: (r.pc1, r.pc2)
        for r in pca_project(emb, comps, mean=mu).collect()
    }
    b = {
        r.vec_id: (r.pc1, r.pc2)
        for r in pca_project(emb.repartition(7), comps, mean=mu).collect()
    }
    assert a == b


def test_fixed_point_power_iteration_converges_to_eigh(spark):
    """The hash-certified fixed-point trajectory must END at numpy's
    answer: the round-48 vector aligns with eigh's dominant eigenvector
    and norm_scaled/1e9 approaches λ_max (the quantization + small
    eigengap bound the achievable tolerance — measured 0.996 alignment,
    6e-4 relative λ error at sf0.001)."""
    cov_rows = get_query("embedding_covariance")(spark, SF_DIR).collect()
    c = np.zeros((64, 64))
    for r in cov_rows:
        c[r["d1"], r["d2"]] = r["cov"]
        c[r["d2"], r["d1"]] = r["cov"]
    evals, evecs = np.linalg.eigh(c)
    lam, v_ref = evals[-1], evecs[:, -1]
    out = get_query("embedding_power_iteration_fixed")(
        spark, SF_DIR
    ).collect()
    last = max(r["round"] for r in out)
    v = np.zeros(64)
    norm_scaled = None
    for r in out:
        if r["round"] == last:
            v[r["d"]] = r["v_scaled"]
            norm_scaled = r["norm_scaled"]
    v /= np.linalg.norm(v)
    align = abs(float(v @ v_ref))
    assert align > 0.98, align
    rel = abs(norm_scaled / 1e9 - lam) / lam
    assert rel < 5e-3, rel


def test_power_iteration_negative_dominant_eigenvalue():
    """ADVICE r7: a negative dominant eigenvalue sign-flips the iterate
    each step; convergence must accept ±w or it silently burns all
    n_iter matmuls. The returned direction must still be the dominant
    eigenvector (up to sign)."""
    rng = np.random.default_rng(5)
    q, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    evals = np.linspace(0.1, 0.9, 64)
    evals[0] = -5.0  # dominant in magnitude, negative
    c = (q * evals) @ q.T
    rows = [
        {"d1": i, "d2": j, "cov": c[i, j]}
        for i in range(64)
        for j in range(i, 64)
    ]
    comps = pca_power_components(rows, n_components=1, n_iter=3000)
    align = abs(float(comps[0] @ q[:, 0]))
    assert align > 1.0 - 1e-9, align


def test_fixed_point_deflated_projection_matches_numpy(spark):
    """The r12 deflation twin must END near numpy's answer on BOTH
    components and its integer projection must match a float recompute:
    v2 comes from 48 rounds over the rank-1-downdated matrix, so its
    achievable alignment is bounded by the fixture's λ3/λ2 ≈ 0.96
    eigengap (measured 0.964 at sf0.001; λ2 relative error 2e-3). The
    projection check is scale-exact: p_scaled/1e9 vs the numpy score
    using the ITERATION's own components (isolating the integer
    projection law from eigensolve convergence)."""
    from stock_market_big_data_project_spark.plans.llm import (
        _pi_fixed_run,
        _pi_quantize_cov,
        _pi_tz,
    )

    cov_rows = get_query("embedding_covariance")(spark, SF_DIR).collect()
    c = np.zeros((64, 64))
    for r in cov_rows:
        c[r["d1"], r["d2"]] = r["cov"]
        c[r["d2"], r["d1"]] = r["cov"]
    evals, evecs = np.linalg.eigh(c)
    cq = _pi_quantize_cov(cov_rows)
    _t1, v1, s1 = _pi_fixed_run(cq)
    c2 = [
        [cq[i][j] - _pi_tz(s1 * v1[i] * v1[j], 10**18) for j in range(64)]
        for i in range(64)
    ]
    _t2, v2, s2 = _pi_fixed_run(c2)
    v1n = np.array(v1) / np.linalg.norm(v1)
    v2n = np.array(v2) / np.linalg.norm(v2)
    assert abs(float(v1n @ evecs[:, -1])) > 0.98
    assert abs(float(v2n @ evecs[:, -2])) > 0.9
    assert abs(float(v1n @ v2n)) < 0.02  # deflation ⇒ near-orthogonal
    assert abs(s2 / 1e9 - evals[-2]) / evals[-2] < 0.01

    merged = (
        get_query("embedding_pca_project_fixed")(spark, SF_DIR)
        .toPandas()
        .set_index("vec_id")
    )
    x, ids = _emb_matrix(SF_DIR)
    mean = x.mean(axis=0)
    # the query's integer projection law, replayed in float to ~1e-6:
    # scores against the iteration's own components (scale 1e9 → unit),
    # centered on the exact mean — isolates the projection arithmetic
    # from eigensolve convergence
    for col, v in (("p1_scaled", v1), ("p2_scaled", v2)):
        ref = (x - mean) @ (np.array(v, dtype=np.float64) / 1e9)
        got = merged.loc[ids, col].to_numpy() / 1e9
        assert np.allclose(got, ref, atol=2e-6), col
