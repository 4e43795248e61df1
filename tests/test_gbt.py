"""EXACT differential for the histogram-GBT trainer (operators/gbt.py).

``_py_gbt`` is an independent pure-Python re-implementation of the
determinism contract in the module docstring — per-series, per-tree,
per-node loops with running-sum accumulators (lists + dicts, no
vectorization; numpy appears only for the spec'd RNG draws). The batched
numpy trainer must reproduce it node-for-node (feature, threshold,
children, leaf values — compared as nested tuples, so node-id layout is
irrelevant) and prediction-for-prediction bitwise, including the 24-step
recursive feedback loop and the test RMSE. The same differential pattern
as the unigram-EM / k-means / BPE trainers.
"""

from __future__ import annotations

import math

import numpy as np

from stock_market_big_data_project_spark.operators.gbt import (
    Forest,
    GBTParams,
    train_forest_batch,
)


# --------------------------------------------------------------------------
# pure-Python reference
# --------------------------------------------------------------------------


def _py_edges(col: list, bins: int) -> list:
    v = sorted(col)
    n = len(v)
    cand = sorted({v[math.ceil(b * n / bins) - 1] for b in range(1, bins)})
    return cand + [math.inf] * (bins - 1 - len(cand))


def _py_code(edges: list, x: float) -> int:
    c = 0
    for e in edges:
        if e <= x:
            c += 1
    return c


def _py_tree(rows, grads, codes, edges, cols, max_depth, bins):
    """Grow one tree; rows = ascending row ids of the subsample. Returns a
    nested tuple: ('leaf', value) | (feat, thr, left, right)."""

    def node(sub, depth):
        g = 0.0
        for r in sub:  # flat row-order node totals
            g += grads[r]
        n = len(sub)
        if n < 2 or depth == max_depth:
            return ("leaf", g / n)
        best_gain, best = -math.inf, None
        for slot, f in enumerate(cols):  # ascending feature id
            # per-bin partials in row order, then bin-order cumsum
            gh = [0.0] * bins
            nh = [0] * bins
            for r in sub:
                c = codes[r][f]
                gh[c] += grads[r]
                nh[c] += 1
            glv, nlv = 0.0, 0
            for b in range(bins):
                glv = glv + gh[b]
                nlv = nlv + nh[b]
                grv = g - glv
                nrv = n - nlv
                gain = glv * glv / max(nlv, 1) + grv * grv / max(nrv, 1)
                if gain > best_gain:
                    best_gain, best = gain, (f, b, nlv)
        # split rule: improvement AND both children keep >=1 row (the
        # full-range cell's ulp-inflated gain must not create an empty
        # child — see the trainer's child-validity comment)
        if best is None or best_gain - g * g / n <= 1e-12:
            return ("leaf", g / n)
        nl_best = best[2]
        if nl_best < 1 or n - nl_best < 1:
            return ("leaf", g / n)
        best = (best[0], best[1])
        f, b = best
        lsub = [r for r in sub if codes[r][f] <= b]
        rsub = [r for r in sub if codes[r][f] > b]
        return (
            f,
            edges[f][b],
            node(lsub, depth + 1),
            node(rsub, depth + 1),
        )

    return node(list(rows), 0)


def _py_predict(tree, x):
    while tree[0] != "leaf":
        f, thr, l, r = tree
        tree = l if x[f] < thr else r
    return tree[1]


def _py_gbt(x, y, key, p: GBTParams):
    """Train one series; returns (trees, base, edges)."""
    n, n_feat = len(y), len(x[0])
    edges = [_py_edges([row[f] for row in x], p.bins) for f in range(n_feat)]
    codes = [
        [_py_code(edges[f], x[r][f]) for f in range(n_feat)] for r in range(n)
    ]
    base = 0.0
    for v in y:
        base += v
    base /= n
    pred = [base] * n
    rng = np.random.default_rng([p.seed, int(key)])
    k = max(2, int(n * p.subsample))
    kf = max(1, int(n_feat * p.colsample))
    trees = []
    for _t in range(p.n_trees):
        rows = sorted(int(i) for i in rng.permutation(n)[:k])
        cols = sorted(int(f) for f in rng.permutation(n_feat)[:kf])
        grads = [y[r] - pred[r] for r in range(n)]
        tree = _py_tree(rows, grads, codes, edges, cols, p.max_depth, p.bins)
        trees.append(tree)
        for r in range(n):
            pred[r] = pred[r] + p.learning_rate * _py_predict(tree, x[r])
    return trees, base


def _py_forecast(tree_pack, window, steps, lr):
    trees, base = tree_pack
    w = list(window)
    out = []
    for _ in range(steps):
        v = base
        for tree in trees:
            v = v + lr * _py_predict(tree, w)
        out.append(v)
        w = [v] + w[:-1]
    return out


# --------------------------------------------------------------------------
# extract nested-tuple trees from the batched Forest
# --------------------------------------------------------------------------


def _np_tree(f: Forest, node: int):
    if f.is_leaf[node]:
        return ("leaf", float(f.val[node]))
    return (
        int(f.feat[node]),
        float(f.thr[node]),
        _np_tree(f, int(f.left[node])),
        _np_tree(f, int(f.right[node])),
    )


def _fixture(n_series=3, n_feat=6, seed=11):
    rng = np.random.default_rng(seed)
    xs, ys, keys = [], [], []
    for s in range(n_series):
        n = 30 + 7 * s
        x = np.round(rng.normal(size=(n, n_feat)), 4)
        y = np.round(
            x[:, 0] * 2.0 - x[:, 1] + 0.3 * rng.normal(size=n), 4
        )
        xs.append(x)
        ys.append(y)
        keys.append(1000 + 7 * s)
    return xs, ys, keys


P_SMALL = GBTParams(n_trees=12, max_depth=4, bins=8)


def test_tree_structure_exact():
    """Node-for-node equality: every tree of every series matches the
    pure-Python reference exactly (features, raw thresholds, leaf values)."""
    xs, ys, keys = _fixture()
    f = train_forest_batch(xs, ys, keys, P_SMALL)
    for s in range(len(xs)):
        trees_py, base_py = _py_gbt(
            xs[s].tolist(), ys[s].tolist(), keys[s], P_SMALL
        )
        assert f.base[s] == base_py
        for t in range(P_SMALL.n_trees):
            assert _np_tree(f, int(f.roots[s, t])) == trees_py[t], (
                f"series {s} tree {t} diverges"
            )


def test_recursive_prediction_bitwise():
    """24-step recursive feedback loop matches the reference bitwise —
    predictions on UNSEEN (fed-back) values exercise the raw-threshold
    routing, not just the binned training rows."""
    xs, ys, keys = _fixture()
    f = train_forest_batch(xs, ys, keys, P_SMALL)
    w = np.stack([x[-1] for x in xs])
    got = []
    cur = w.copy()
    for _ in range(24):
        pv = f.predict_step(cur)
        got.append(pv)
        cur = np.hstack([pv[:, None], cur[:, :-1]])
    got = np.stack(got, axis=1)
    for s in range(len(xs)):
        pack = _py_gbt(xs[s].tolist(), ys[s].tolist(), keys[s], P_SMALL)
        want = _py_forecast(pack, list(w[s]), 24, P_SMALL.learning_rate)
        assert got[s].tolist() == want, f"series {s} forecast diverges"


def test_batch_invariance():
    """Training a series alone and inside a batch yields the identical
    model — the property that makes Spark repartitioning safe."""
    xs, ys, keys = _fixture(n_series=4)
    fb = train_forest_batch(xs, ys, keys, P_SMALL)
    for s in (0, 3):
        fa = train_forest_batch([xs[s]], [ys[s]], [keys[s]], P_SMALL)
        for t in range(P_SMALL.n_trees):
            assert _np_tree(fa, int(fa.roots[0, t])) == _np_tree(
                fb, int(fb.roots[s, t])
            )


def test_learns_signal():
    """Sanity: the forest actually fits (in-sample MSE far below the
    variance of y) and reference hyperparameters stay finite."""
    xs, ys, keys = _fixture()
    f = train_forest_batch(xs, ys, keys, GBTParams(n_trees=60))
    for s in range(len(xs)):
        pred = f.predict_rows(np.full(len(ys[s]), s), xs[s])
        assert np.isfinite(pred).all()
        mse = float(np.mean((ys[s] - pred) ** 2))
        var = float(np.var(ys[s]))
        assert mse < 0.2 * var


def test_spark_forecast_matches_pure_python_end_to_end(spark):
    """Integration differential: the REGISTERED recursive_forecast query
    (lag-matrix build, 80/20 split, GBT training, 168-step feedback,
    RMSE) reproduces the pure-Python pipeline bitwise for real fixture
    symbols — catches window-construction / split / batching bugs the
    tree-level differential cannot see."""
    import math

    import pandas as pd

    from stock_market_big_data_project_spark.operators.gbt import GBTParams
    from stock_market_big_data_project_spark.plans import (
        get_query,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = (
        get_query("recursive_forecast")(spark, sf_dir)
        .toPandas()
        .sort_values(["symbol", "step"])
    )
    # the operator packs with sort_array over (ts, value) structs — sort
    # by both so duplicate timestamps order identically
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["ts", "value"]
    )
    p = GBTParams()  # the forecaster's reference hyperparameters
    n_lags, horizon, frac = 24, 168, 0.8
    for sym in sorted(ev["user_id"].unique())[:3]:
        vals = ev.loc[ev["user_id"] == sym, "value"].to_list()
        if len(vals) < n_lags + 10:
            continue
        x = [
            [vals[i - k] for k in range(1, n_lags + 1)]
            for i in range(n_lags, len(vals))
        ]
        y = vals[n_lags:]
        split = int(len(y) * frac)
        pack = _py_gbt(x[:split], y[:split], int(sym), p)
        want = _py_forecast(
            pack, list(reversed(vals[-n_lags:])), horizon, p.learning_rate
        )
        rows = got[got["symbol"] == sym]
        assert rows["forecast_c"].to_list() == want, f"symbol {sym}"
        # rmse: index-order sum of squared test errors, one sqrt
        errs = [
            _py_forecast(pack, xr, 1, p.learning_rate)[0] - yv
            for xr, yv in zip(x[split:], y[split:])
        ]
        acc = 0.0
        for e in errs:
            acc += e * e
        want_rmse = math.sqrt(acc / len(errs))
        assert float(rows["rmse"].iloc[0]) == want_rmse, f"symbol {sym}"
