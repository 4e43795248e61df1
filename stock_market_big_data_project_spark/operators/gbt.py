"""Pure-numpy histogram gradient-boosted trees (the OP-66 model family).

The reference trains ``XGBRegressor(n_estimators=300, learning_rate=0.05,
max_depth=6, subsample=0.8, colsample_bytree=0.8, random_state=42)`` per
symbol (analysis_part/main.py:95-103). Neither xgboost nor sklearn import
in this container (COVERAGE.md env probes r5-r7), so this module implements
the model FAMILY itself — histogram split finding, shrinkage, per-tree row
subsampling and column subsampling, squared loss — as a small deterministic
numpy trainer. It is not a bitwise xgboost clone (xgboost's quantile
sketch, λ=1 regularization and base_score differ); it is the same algorithm
class with a precisely-specified deterministic rule set, verified EXACTLY
against an independent pure-Python reference implementation
(tests/test_gbt.py — node-for-node tree equality and bit-equal
predictions), the same differential pattern as the unigram-EM and k-means
trainers.

Determinism contract (what the differential pins down):
- Binning: per (series, feature), candidate edges are the sorted training
  column's values at positions ceil(b·n/B)−1 for b=1..B−1, deduplicated and
  padded with +inf. ``code = #(edges ≤ x)``; the split predicate
  ``code ≤ b`` is exactly ``x < edges[b]`` on raw values, so recursive
  prediction on unseen values agrees with training-time routing.
- Histogram sums accumulate in ROW ORDER (np.bincount's sequential C loop
  == the reference's Python loop); cumulative sums over bins are
  sequential; so gains are bit-identical.
- Gain: GL²/NL + GR²/NR (variance gain, hessian = row count, no L2 term)
  maximized over (sampled-feature slot, bin); empty sides contribute 0 via
  an NL/NR clamp (they can never beat a genuine improvement). A node needs
  ≥2 subsampled rows and splits when best − G²/N > 1e-12; ties break to
  the lowest (slot, bin) — np.argmax's first-index rule. The node totals
  G and N are the FLAT row-order sums (one canonical summation order,
  shared by GR = G − GL, the parent score, and the leaf values); only the
  per-slot GL/NL use the bin-grouped cumsum order.
- Leaf value: mean residual of the node's subsampled rows, G/N with the
  flat row-order G.
- RNG: per series ``np.random.default_rng([seed, series_key])``; per tree
  it draws ``permutation(n)[:max(2, int(n·subsample))]`` rows then
  ``sort(permutation(F)[:max(1, int(F·colsample))])`` features, in that
  order. Only sampled features are histogrammed (slot order = ascending
  feature id). Seeding by series key (not batch position) makes the model
  independent of how series are batched into partitions — repartitioning
  cannot change a forecast.
- Prediction is the training-order sequence base, +lr·leaf₀, +lr·leaf₁, …
  (a sequential cumsum), so train-time residuals and predict() round
  identically.

Scale shape: training is LEVEL-SYNCHRONOUS across every series in the
Arrow batch — one weighted bincount per (tree, level) over all series'
rows at once, nodes indexed compactly per frontier — so the numpy call
count is O(trees · depth) per PARTITION, not per series. Prediction
vectorizes across (series × trees) with flat gather arrays, so the
168-step recursive loop costs ~6 gathers per step regardless of how many
series the partition holds.
"""

from __future__ import annotations

import numpy as np

__all__ = ["GBTParams", "Forest", "train_forest_batch"]


class GBTParams:
    """Hyperparameters; defaults mirror the reference's XGB settings. The
    tree count, depth and bin count are set per instance (the differential
    tests shrink them); the rest are the reference's fixed values."""

    learning_rate = 0.05
    subsample = 0.8
    colsample = 0.8
    seed = 42

    def __init__(self, n_trees: int = 300, max_depth: int = 6, bins: int = 16) -> None:
        self.n_trees = n_trees
        self.max_depth = max_depth
        self.bins = bins


def _seqsum(a: np.ndarray) -> float:
    """Sum in index order (bincount's C loop — NOT numpy's pairwise
    reduce), so the pure-Python reference's running sum matches bitwise."""
    a = np.ascontiguousarray(a, dtype=np.float64)
    if a.size == 0:
        return 0.0
    return float(
        np.bincount(np.zeros(a.size, dtype=np.intp), weights=a, minlength=1)[0]
    )


class Forest:
    """Flat-array forest for a BATCH of series: node arrays are shared,
    ``roots[s, t]`` points each (series, tree) at its root."""

    def __init__(
        self,
        feat: np.ndarray,
        thr: np.ndarray,
        left: np.ndarray,
        right: np.ndarray,
        val: np.ndarray,
        is_leaf: np.ndarray,
        roots: np.ndarray,
        base: np.ndarray,
        learning_rate: float,
        max_depth: int,
    ) -> None:
        self.feat, self.thr = feat, thr
        self.left, self.right = left, right
        self.val, self.is_leaf = val, is_leaf
        self.roots = roots  # (n_series, n_trees)
        self.base = base  # (n_series,)
        self.lr = learning_rate
        self.max_depth = max_depth

    def predict_rows(self, series_idx: np.ndarray, x: np.ndarray) -> np.ndarray:
        """Predict arbitrary feature rows; ``series_idx[i]`` names the
        series whose forest scores row i. Vectorized over rows × trees."""
        n, t = x.shape[0], self.roots.shape[1]
        if n == 0:
            return np.empty(0)
        ptr = self.roots[series_idx]  # (n, T)
        rows = np.arange(n)[:, None]
        for _ in range(self.max_depth + 1):
            leaf = self.is_leaf[ptr]
            if leaf.all():
                break
            f = self.feat[ptr]
            go_left = x[np.broadcast_to(rows, f.shape), f] < self.thr[ptr]
            nxt = np.where(go_left, self.left[ptr], self.right[ptr])
            ptr = np.where(leaf, ptr, nxt)
        # base, +lr·v0, +lr·v1, … in training order (sequential cumsum)
        full = np.concatenate(
            [self.base[series_idx][:, None], self.lr * self.val[ptr]], axis=1
        )
        return np.cumsum(full, axis=1)[:, -1]

    def predict_step(self, windows: np.ndarray) -> np.ndarray:
        """One prediction per series from its current lag window — the
        168-step recursion's inner call. windows: (n_series, n_lags)."""
        return self.predict_rows(np.arange(windows.shape[0]), windows)


def train_forest_batch(
    xs: list, ys: list, keys: list, params: GBTParams | None = None
) -> Forest:
    """Train one forest per series, all series level-synchronously.

    xs[i]: (n_i, F) training features, ys[i]: (n_i,) targets, keys[i]: the
    integer series key that seeds the per-series RNG (so results don't
    depend on batching). Returns a Forest over the batch.
    """
    p = params or GBTParams()
    s_count, n_feat = len(xs), xs[0].shape[1]
    b = p.bins

    # --- per-series setup: bins, codes, base score, per-tree RNG draws ---
    sizes = np.array([len(y) for y in ys])
    offs = np.concatenate([[0], np.cumsum(sizes)])
    n_rows = int(offs[-1])
    x_all = np.concatenate(xs, axis=0)
    y_all = np.concatenate(ys)
    row_series = np.repeat(np.arange(s_count), sizes)

    # Vectorized across features (VERDICT r8 #6 — the per-(series,
    # feature) loop was plain Python): candidates gather from the
    # column-sorted matrix at the quantile positions; per-column dedup =
    # mask equal-to-previous to +inf then re-sort (the gathered column is
    # already non-decreasing, so this equals np.unique + inf-pad, value
    # for value); codes = #(edges ≤ x) as one broadcast comparison-sum —
    # the split predicate's definition applied literally, identical to
    # searchsorted(side="right") on finite values.
    edges = np.empty((s_count, n_feat, b - 1))
    codes = np.empty((n_rows, n_feat), dtype=np.int64)
    for s in range(s_count):
        xsort = np.sort(xs[s], axis=0)
        lo, hi = offs[s], offs[s + 1]
        n = int(sizes[s])
        pos = np.ceil(np.arange(1, b) * n / b).astype(np.intp) - 1
        cand = xsort[pos, :]  # (b-1, n_feat), non-decreasing per column
        dup = np.zeros_like(cand, dtype=bool)
        dup[1:] = cand[1:] == cand[:-1]
        e = np.where(dup, np.inf, cand)
        e.sort(axis=0)
        edges[s] = e.T
        codes[lo:hi] = (x_all[lo:hi, :, None] >= e.T[None, :, :]).sum(axis=2)

    base = np.array([_seqsum(y) / len(y) for y in ys])
    pred = base[row_series].copy()
    row_idx = np.arange(n_rows)[:, None]

    kf = max(1, int(n_feat * p.colsample))
    slot_idx = np.arange(kf)[None, :]
    in_sample = np.zeros((p.n_trees, n_rows), dtype=bool)
    # ft_map[t, s] = the kf features sampled for (series s, tree t); the
    # histograms are laid out over SAMPLED feature slots only, so the
    # unsampled features never enter the gain search at all.
    ft_map = np.zeros((p.n_trees, s_count, kf), dtype=np.int64)
    for s in range(s_count):
        rng = np.random.default_rng([p.seed, int(keys[s])])
        k = max(2, int(sizes[s] * p.subsample))
        for t in range(p.n_trees):
            in_sample[t, offs[s] + rng.permutation(int(sizes[s]))[:k]] = True
            ft_map[t, s] = np.sort(rng.permutation(n_feat)[:kf])

    # --- grow trees: frontier-compacted, level-synchronous histograms ----
    # Per-tree node cap: every leaf holds ≥1 subsampled row, so a series
    # contributes ≤ 2k−1 nodes; allocate the batch-wide worst case once.
    max_k = max(2, int(sizes.max() * p.subsample))
    cap = s_count * (2 * max_k + 1)
    g_feat, g_thr, g_left, g_right, g_val, g_leaf = [], [], [], [], [], []
    roots = np.empty((s_count, p.n_trees), dtype=np.int64)
    tree_base = 0
    series_arange = np.arange(s_count)

    old_err = np.seterr(divide="ignore", invalid="ignore")
    # Preallocated per-batch scratch (r13, VERDICT r12 #3): the level loop
    # runs trees×levels ≈ 2100 times per batch and was allocation-bound —
    # the bincount index/weight concatenations, the (n_act × kf)
    # cell/weight materializations and the gain pipeline's gr/nr/nlc
    # temporaries each malloc'd fresh arrays every level. Every buffer
    # below is written through `out=`/`copyto` views with the SAME ops in
    # the SAME order as the allocating form, so results are bit-identical
    # (the pure-Python differential suite pins it). Bounds: active rows
    # ≤ n_rows, and every frontier node keeps ≥1 subsampled row (the
    # child-validity gate), so n_fr ≤ n_rows and n_fr·kf·b ≤ n_rows·kf·b.
    act_buf = np.empty(n_rows, dtype=bool)
    slot_buf = np.empty(n_rows, dtype=np.int64)
    grad_buf = np.empty(n_rows)
    cell_act_buf = np.empty((n_rows, kf), dtype=np.int64)
    code_term_buf = np.empty((n_rows, kf), dtype=np.int64)
    cg_idx_buf = np.empty(2 * n_rows, dtype=np.int64)
    cg_w_buf = np.empty(2 * n_rows)
    hist_idx_buf = np.empty(2 * n_rows * kf, dtype=np.int64)
    hist_w_buf = np.empty(2 * n_rows * kf)
    gr_buf = np.empty(n_rows * kf * b)
    nr_buf = np.empty(n_rows * kf * b)
    nlc_buf = np.empty(n_rows * kf * b)

    def _compress_active(act: np.ndarray, cur_slot: np.ndarray, grad: np.ndarray):
        """(slot_act, grad_act) for the active rows, into the shared
        buffers — value-identical to cur_slot[act] / grad[act]."""
        n_act = int(np.count_nonzero(act))
        slot_act = np.compress(act, cur_slot, out=slot_buf[:n_act])
        grad_act = np.compress(act, grad, out=grad_buf[:n_act])
        return slot_act, grad_act
    for t in range(p.n_trees):
        grad = y_all - pred
        # per-row bin codes over this tree's SAMPLED feature slots
        ft_rows = ft_map[t][row_series]  # (n_rows, kf) global feature ids
        code_t = codes[row_idx, ft_rows]
        tfeat = np.zeros(cap, dtype=np.int64)
        tthr = np.zeros(cap)
        tleft = np.full(cap, -1, dtype=np.int64)
        tright = np.full(cap, -1, dtype=np.int64)
        tval = np.zeros(cap)
        tleaf = np.ones(cap, dtype=bool)
        n_nodes = s_count  # roots are local ids 0..s_count-1
        roots[:, t] = tree_base + series_arange

        fr_local = series_arange.copy()  # local node id per frontier slot
        fr_series = series_arange.copy()
        cur_slot = row_series.copy()  # frontier SLOT index per row
        alive = np.ones(n_rows, dtype=bool)
        samp = in_sample[t]
        exit_local = np.full(n_rows, -1, dtype=np.int64)

        for level in range(p.max_depth + 1):
            n_fr = fr_local.size
            act = np.logical_and(alive, samp, out=act_buf)
            slot_act, grad_act = _compress_active(act, cur_slot, grad)

            # PREFILTER: a node needs ≥2 subsampled rows (and depth room)
            # to split; leaf the rest NOW so the ×n_feat×bins histogram
            # only covers genuinely splittable nodes. A ≤1-row node's
            # value is a ≤1-term sum, so the flat sums here are bitwise
            # order-free.
            # one bincount for (counts, gsums): the count half sums exact
            # small integers in float64, the grad half accumulates in the
            # same sequential order as a standalone weighted bincount —
            # bitwise-identical, half the numpy-call overhead. The
            # index/weight halves are staged into preallocated buffers —
            # the same concatenated values, no per-level malloc.
            m = slot_act.size
            ci = cg_idx_buf[: 2 * m]
            np.copyto(ci[:m], slot_act)
            np.add(slot_act, n_fr, out=ci[m:])
            cw = cg_w_buf[: 2 * m]
            cw[:m] = 1.0
            np.copyto(cw[m:], grad_act)
            cg = np.bincount(ci, weights=cw, minlength=2 * n_fr)
            counts, gsums = cg[:n_fr], cg[n_fr:]
            can = counts >= 2
            if level == p.max_depth:
                can[:] = False
            if (~can).any():
                small = ~can
                tval[fr_local[small]] = gsums[small] / counts[small]
                row_leafed = alive & small[cur_slot]
                exit_local[row_leafed] = fr_local[cur_slot[row_leafed]]
                alive[row_leafed] = False
                # dead rows keep a stale slot id that can exceed the NEXT
                # level's (smaller) frontier — park them at slot 0; every
                # read of cur_slot is masked by `alive`/`live`.
                cur_slot[row_leafed] = 0
                if not can.any():
                    break
                # compact the frontier to splittable nodes only
                remap = np.cumsum(can) - 1
                cur_slot[alive] = remap[cur_slot[alive]]
                fr_local = fr_local[can]
                fr_series = fr_series[can]
                gsums = gsums[can]
                counts = counts[can]
                n_fr = fr_local.size
                act = np.logical_and(alive, samp, out=act_buf)
                slot_act, grad_act = _compress_active(act, cur_slot, grad)

            # (n_act × kf) cells and repeated-grad weights, staged into
            # the preallocated histogram feed: identical values per cell
            # to the old node-major `(slot·(kf·b) + slot_feat·b + code)`
            # addressing, minus four frontier-row-sized mallocs per level.
            # r13 layout change: the histogram is BIN-MAJOR
            # (bin, node, bin-slot) instead of node-major — same bincount
            # input ORDER (row order), so every per-cell sum is
            # bit-identical; the bin-prefix pass below then runs on
            # contiguous (n_fr·kf) slabs instead of 16-element serial
            # rows (the cumsum was 26% of the trainer, latency-bound).
            n_act = slot_act.size
            code_act = np.compress(
                act, code_t, axis=0, out=cell_act_buf[:n_act]
            )
            total = n_act * kf
            size = n_fr * kf * b
            hi = hist_idx_buf[: 2 * total]
            cells2d = hi[:total].reshape(n_act, kf)
            np.multiply(slot_act[:, None], kf, out=cells2d)
            cells2d += slot_idx
            code_term = np.multiply(
                code_act, n_fr * kf, out=code_term_buf[:n_act]
            )
            cells2d += code_term
            np.add(hi[:total], size, out=hi[total:])
            hw = hist_w_buf[: 2 * total]
            hw[:total].reshape(n_act, kf)[:] = grad_act[:, None]
            hw[total:] = 1.0
            # one bincount for (G, N) histograms: the G half accumulates
            # in the same sequential row order as before, the N half sums
            # exact integers in float64 — bitwise-identical results at
            # half the call overhead
            gn = np.bincount(hi, weights=hw, minlength=2 * size)
            gn_l = gn.reshape(2, b, n_fr, kf)
            # bin-prefix sums in place: prefix[j] = prefix[j-1] + x[j]
            # walked j-ascending is the SAME left-to-right per-cell
            # addition chain as the old np.cumsum(axis=bins) — only the
            # loop structure changed (15 vectorized contiguous adds
            # instead of 2·n_fr·kf serial 16-element rows), so every
            # prefix value is bit-identical (the differential suite pins
            # it).
            for j in range(1, b):
                gn_l[:, j] += gn_l[:, j - 1]
            gl, nl = gn_l[0], gn_l[1]  # (b, n_fr, kf)
            # node totals come from the FLAT row-order sums above (one
            # canonical summation order for GR, the parent score, and the
            # leaf values — not the per-slot bin-grouped order)
            g_tot = gsums[None, :, None]
            n_tot = counts[None, :, None]
            # Empty-side cells (NL=0 or NR=0) are clamped, not masked: the
            # empty side's G is exactly 0, so its term is 0 and the cell's
            # gain equals the other side's full score ≤ the parent score
            # G²/N — it can win the argmax only when NO cell improves, and
            # then the split test below rejects the node anyway.
            gr = np.subtract(g_tot, gl, out=gr_buf[:size].reshape(b, n_fr, kf))
            np.multiply(gr, gr, out=gr)
            nr = np.subtract(n_tot, nl, out=nr_buf[:size].reshape(b, n_fr, kf))
            np.maximum(nr, 1, out=nr)
            np.divide(gr, nr, out=gr)  # gr := GR²/max(NR,1)
            # gl (gn_l[0]) is dead after this point — nl stays live for
            # the child-validity gate below, so its clamp gets a buffer
            np.multiply(gl, gl, out=gl)
            nlc = np.maximum(nl, 1, out=nlc_buf[:size].reshape(b, n_fr, kf))
            np.divide(gl, nlc, out=gl)  # gl := GL²/max(NL,1)
            gain = np.add(gl, gr, out=gl)  # (b, n_fr, kf)
            # argmax must keep the original (bin-slot, bin) flat order per
            # node for the first-index tie-break: one transposed copy into
            # the (dead) nr buffer restores it — same comparison sequence,
            # same winner, same index values as the node-major form
            flat3 = nr_buf[:size].reshape(n_fr, kf, b)
            np.copyto(flat3, gain.transpose(1, 2, 0))
            flatgain = flat3.reshape(n_fr, kf * b)
            best = np.argmax(flatgain, axis=1)
            ar = np.arange(n_fr)
            bslot = best // b
            bb = best % b
            # Child validity is part of the SPLIT RULE, not just the clamp
            # argument: the full-range bin's GL is the bin-grouped sum
            # while the parent G is the flat row-order sum, so their ulp
            # mismatch inflates that cell's gain by ~2·G·ε/N — for large
            # |G| that can exceed the absolute 1e-12 improvement gate and
            # "win" a split that routes every row one way (empty child →
            # 0/0 NaN leaf). A node therefore splits only when the best
            # cell ALSO keeps ≥1 subsampled row on each side.
            # cell (node i, slot s, bin j) lives at nl[j, i, s]
            nl_best = nl[bb, ar, bslot]
            split = (
                (flatgain[ar, best] - gsums * gsums / counts > 1e-12)
                & (nl_best >= 1)
                & (counts - nl_best >= 1)
            )
            bf = ft_map[t][fr_series, bslot]  # global feature id

            # leaves: value = mean residual of the node's subsampled rows
            if (~split).any():
                tval[fr_local[~split]] = gsums[~split] / counts[~split]
                row_leafed = alive & ~split[cur_slot]
                exit_local[row_leafed] = fr_local[cur_slot[row_leafed]]
                alive[row_leafed] = False
                cur_slot[row_leafed] = 0
            if not split.any():
                break

            # split nodes: record split, allocate children
            sp_local = fr_local[split]
            n_sp = sp_local.size
            kid_ids = n_nodes + np.arange(2 * n_sp)
            n_nodes += 2 * n_sp
            lkids, rkids = kid_ids[0::2], kid_ids[1::2]
            tfeat[sp_local] = bf[split]
            tthr[sp_local] = edges[fr_series[split], bf[split], bb[split]]
            tleft[sp_local] = lkids
            tright[sp_local] = rkids
            tleaf[sp_local] = False

            # route surviving rows down; remap to the new frontier
            new_slot_of = np.full(n_fr, -1, dtype=np.int64)
            new_slot_of[split] = np.arange(n_sp)
            live = alive
            slot = cur_slot[live]
            go_left = codes[live, bf[slot]] <= bb[slot]
            cur_slot[live] = 2 * new_slot_of[slot] + np.where(go_left, 0, 1)

            fr_local = np.empty(2 * n_sp, dtype=np.int64)
            fr_local[0::2], fr_local[1::2] = lkids, rkids
            fr_series = np.repeat(fr_series[split], 2)

        pred = pred + p.learning_rate * tval[exit_local]

        g_feat.append(tfeat[:n_nodes])
        g_thr.append(tthr[:n_nodes])
        g_left.append(np.where(tleft[:n_nodes] >= 0,
                               tleft[:n_nodes] + tree_base, -1))
        g_right.append(np.where(tright[:n_nodes] >= 0,
                                tright[:n_nodes] + tree_base, -1))
        g_val.append(tval[:n_nodes])
        g_leaf.append(tleaf[:n_nodes])
        tree_base += n_nodes

    np.seterr(**old_err)
    return Forest(
        feat=np.concatenate(g_feat),
        thr=np.concatenate(g_thr),
        left=np.concatenate(g_left),
        right=np.concatenate(g_right),
        val=np.concatenate(g_val),
        is_leaf=np.concatenate(g_leaf),
        roots=roots,
        base=base,
        learning_rate=p.learning_rate,
        max_depth=p.max_depth,
    )
