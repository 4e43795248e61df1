"""Similarity search over embedding columns (SURVEY.md §7 Phase 5).

Every operator reads the embeddings layout of sources/tables.py
(``VEC_ID``, ``EMBEDDING``, ``EMB_DIMS``); the IVF, LSH and SemDeDup
settings are the module constants below.

Two tiers, as a 100 TB pipeline needs:

- **brute-force cosine top-k** (the correctness baseline): broadcast the
  query set, cross-join against the corpus, evaluate cosine JVM-side.
  Exactness: per-dimension products are exact doubles (float32 inputs have
  24-bit mantissas, products fit in 53), and the *sums* accumulate in
  DECIMAL(18,15) — order-independent, so the score and therefore the
  ranking are bit-identical across engines and partitionings. Precision 18
  keeps Spark's Decimal on its compact-long fast path (and DuckDB on int64
  /int128) instead of BigDecimal — ~10× cheaper per add. Scale 15 + 3
  integer digits is safe: embeddings are unit-normalized (‖x‖²≈1, checked
  in tests), so every partial sum is bounded by Σ|xᵢyᵢ| ≤ ‖x‖‖y‖ ≈ 1 and
  LSH projections by 0.5·Σ|xᵢ| ≤ 0.5·√64 = 4, far under 10³. Rounding each
  double product to 15 dp is itself deterministic and engine-agreeing (a
  binary double is never exactly at a decimal tie point at digit 16), so
  the oracle — which uses the same DECIMAL(18,15) formula — matches bit
  for bit.
- **hyperplane-LSH buckets** (the scale path): 16 deterministic pseudo-random
  hyperplanes (component = md5-derived value per (plane, dim)) → sign-bit
  bucket; candidates meet in buckets via equi-join instead of a cross join.

Execution is two-phase, the shape every production vector store uses
(IVF/HNSW verify-and-rescore): a **vectorized approximate pass** (numpy
BLAS over Arrow batches via `mapInPandas` — thousands of dot products per
matmul, ~100× the per-row JVM expression throughput) generates a candidate
superset with a rigorous error margin (float64 matmul error < 1e-12 ≪ the
1e-6/1e-9 margins used), then the **exact decimal pass** — the same
DECIMAL(18,15) formula the DuckDB oracle runs — scores only the survivors,
so the final output is bit-exact and independent of batch/partition
boundaries (the candidate set is partitioning-dependent, but it is always
a superset, and the exact filter/rank makes the result deterministic).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import EMB_DIMS, EMBEDDING, VEC_ID
from .rounding import ambiguous_round9

DOT_DECIMAL = "decimal(18,15)"

# IVF layout and search: md5-derived centroids, cells probed per query,
# neighbours kept per query.
IVF_CELLS = 8
IVF_PROBES = 2
TOP_K = 5
# Sign bits packed into one `lsh_bucket` id (at most 62 fit a BIGINT).
LSH_BUCKET_PLANES = 16
# Banded LSH near-dups: 96 planes in 8 bands gives 12-bit band keys.
LSH_PLANES = 96
LSH_BANDS = 8
LSH_THRESHOLD = 0.4
SEMDEDUP_THRESHOLD = 0.35


def _tree_sum(terms):
    """Balanced-tree sum of decimal terms.

    A linear fold would widen precision by 1 per add and hit Spark's
    38-digit cap around term 22, where `allowPrecisionLoss` silently drops
    the scale (rounding!). A balanced tree only adds ~log₂(n) digits
    (depth 6 for 64 terms → precision 24, scale still 15) — exact, and the
    shallow dependency chain also pipelines better in generated code.
    """
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _exact_dot(a, b, n_dims: int | None = None):
    """Σ aᵢ·bᵢ with decimal accumulation — order-independent, bit-exact.

    When `n_dims` is known (our embeddings are fixed 64-dim) the sum is
    unrolled into plain `getItem`/`Add` expressions: higher-order
    functions (`aggregate`/`zip_with`) are *interpreted* per element in
    Spark — outside whole-stage codegen — and dominate the runtime by
    ~10×. The unrolled form stays inside codegen end to end.
    """
    if n_dims is not None:
        return _tree_sum(
            [
                (a[i].cast("double") * b[i].cast("double")).cast(DOT_DECIMAL)
                for i in range(n_dims)
            ]
        ).cast("double")
    prod = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")))
    return F.aggregate(
        prod,
        F.lit(0).cast(DOT_DECIMAL),
        # re-cast each partial sum: Spark widens (18,15)+(18,15) to (19,15),
        # which must not leak into the fold's accumulator type (lossless
        # here — partial sums stay under 10³, see module docstring)
        lambda acc, x: (acc + x.cast(DOT_DECIMAL)).cast(DOT_DECIMAL),
    ).cast("double")


# The byte-guarded conditional rebalance moved to operators/spread.py in
# r13 so every full-row spread site shares ONE definition of the guard;
# the private alias keeps this module's call sites and history readable.
from .spread import rebalance_for_compute as _rebalance_for_compute  # noqa: E402


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "_norm2", _exact_dot(F.col(EMBEDDING), F.col(EMBEDDING), EMB_DIMS)
    )


def ivf_assign(
    df: DataFrame,
    cents,
    extra_cols: tuple[str, ...] = (),
    with_dot: bool = False,
    keep_emb: bool = False,
) -> DataFrame:
    """Corpus-side IVF cell assignment as ONE Arrow-batched vectorized
    stage with an exact-decimal fallback for guard-band rows — the same
    fast-path architecture as the PQ encode and the LSH band keys.

    The Column-expression form (`_ivf_best`) evaluates its n_cells×n_dims
    HOF decimal folds interpreted, ~0.25 ms/vector — fine on a 10-row
    query side, wrong on the corpus side, where assignment is the whole
    write-path compute. Here a numpy matmul scores all cells per batch;
    any row whose argmax margin (or, with `with_dot`, whose rounding
    distance) is inside the guard band — float64 dot error vs the decimal
    formula is ≤ ~1e-13, guards at 1e-9 — is recomputed with Python
    Decimal replicating Spark's double→DECIMAL(18,15)/round semantics, so
    the output is bit-identical to `_ivf_best` (differentially tested in
    tests/test_pq.py::test_ivf_assign_fast_equals_exact and proven
    end-to-end by the DuckDB parity of every IVF query).

    Output: (id, *extra_cols, [emb], cell [, cell_dot])."""
    import decimal

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    C = np.array([list(c) for c in cents], dtype=np.float64)  # (k, d)
    in_schema = df.schema
    fields = [in_schema[VEC_ID]] + [in_schema[c] for c in extra_cols]
    if keep_emb:
        fields.append(in_schema[EMBEDDING])
    fields.append(StructField("cell", IntegerType(), False))
    if with_dot:
        fields.append(StructField("cell_dot", DoubleType(), True))
    out_schema = StructType(fields)

    q15 = decimal.Decimal("1e-15")
    q9 = decimal.Decimal("1e-9")

    def exact_row(x):
        best = None
        for c in range(len(C)):
            s = sum(
                (
                    decimal.Decimal(repr(float(x[d]) * C[c, d])).quantize(
                        q15, rounding=decimal.ROUND_HALF_UP
                    )
                    for d in range(C.shape[1])
                ),
                decimal.Decimal(0),
            )
            if best is None or (s, -c) > best:
                best = (s, -c)
        s, negc = best
        rounded = float(
            decimal.Decimal(repr(float(s))).quantize(
                q9, rounding=decimal.ROUND_HALF_UP
            )
        )
        return -negc, rounded

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[EMBEDDING]])
            dots = X @ C.T  # (n, k)
            cell = dots.argmax(axis=1)  # first occurrence = lowest cell
            best = dots[np.arange(n), cell]
            part = np.partition(dots, len(C) - 2, axis=1)
            margin = best - part[:, -2]
            amb = margin < 1e-9
            out_dot = np.round(best, 9)
            if with_dot:
                amb = amb | ambiguous_round9(best)
            for i in np.nonzero(amb)[0]:
                cell[i], out_dot[i] = exact_row(X[i])
            out = {VEC_ID: pdf[VEC_ID].to_numpy()}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()
            if keep_emb:
                out[EMBEDDING] = pdf[EMBEDDING].to_numpy()
            out["cell"] = cell.astype(np.int32)
            if with_dot:
                out["cell_dot"] = out_dot
            yield pd.DataFrame(out)

    cols = [VEC_ID, *extra_cols, EMBEDDING]
    return df.select(*cols).mapInPandas(gen, schema=out_schema)


def _collect_matrix(df: DataFrame, max_rows: int | None = None):
    """Driver-side (ids, float64 matrix) of the *small* comparison side —
    the same data volume the pure-Catalyst form would `F.broadcast`.

    With ``max_rows``, the collect itself is the size gate: `limit(n+1)` is
    a bounded job (Spark stops scanning once the limit is hit), driver
    memory is capped at n+1 rows, and the upstream plan executes exactly
    once — no separate `count()` pre-pass.
    """
    sel = df.select(VEC_ID, EMBEDDING)
    if max_rows is not None:
        rows = sel.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"near_dup_pairs is the brute-force baseline: it "
                f"materializes the full corpus (> max_rows={max_rows} rows) "
                f"on the driver. Use lsh_near_dup_pairs for large corpora."
            )
    else:
        rows = sel.collect()
    ids = np.asarray([r[0] for r in rows])
    mat = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return ids, mat


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Top-k cosine neighbors per query (self excluded).

    Phase 1 — candidates: the query matrix is broadcast; each corpus Arrow
    batch computes one `batch @ Qᵀ` matmul and keeps, per query, every row
    within 1e-9 of the batch's k-th best approximate cosine. Any global
    exact-top-k member is a batch-local approximate-top-k member up to the
    float error (< 1e-12), so this is a strict superset of the answer.
    Phase 2 — rescore: candidates (≈ k·n_batches per query) join back to
    the corpus (candidates broadcast ⇒ the 100 TB corpus never shuffles),
    get the exact decimal cosine, and `row_number` takes the true top-k
    with ties broken by neighbor id. Output: (query_id, neighbor_id,
    cosine, rank).
    """
    id_t = corpus.schema[VEC_ID].dataType.simpleString()
    q_ids, q_mat = _collect_matrix(queries)
    q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_unit))

    def gen(batches):
        qi, qu = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[VEC_ID].to_numpy()
            mat = np.stack(pdf[EMBEDDING].to_numpy()).astype(np.float64)
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = unit @ qu.T  # (batch, n_queries)
            self_mask = a_ids[:, None] == qi[None, :]
            sims[self_mask] = -np.inf
            kk = min(k, sims.shape[0])
            thr = -np.partition(-sims, kk - 1, axis=0)[kk - 1, :] - 1e-9
            keep = (sims >= thr[None, :]) & ~self_mask
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame({"query_id": qi[cols], "neighbor_id": a_ids[rows]})

    cand = _rebalance_for_compute(corpus).mapInPandas(
        gen, schema=f"query_id {id_t}, neighbor_id {id_t}"
    )
    q = with_norm(queries).select(
        F.col(VEC_ID).alias("query_id"),
        F.col(EMBEDDING).alias("_qe"),
        F.col("_norm2").alias("_qn"),
    )
    c = with_norm(corpus).select(
        F.col(VEC_ID).alias("neighbor_id"),
        F.col(EMBEDDING).alias("_ce"),
        F.col("_norm2").alias("_cn"),
    )
    pairs = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    cos = F.try_divide(
        _exact_dot(F.col("_qe"), F.col("_ce"), EMB_DIMS),
        F.sqrt(F.col("_qn")) * F.sqrt(F.col("_cn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"), "rank")
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    max_rows: int = 100_000,
) -> DataFrame:
    """All embedding pairs (a<b) with cosine ≥ threshold — the
    embedding-cosine near-dup detector. Brute force O(n²) baseline with
    **exact recall**; `lsh_near_dup_pairs` is the scale path (this one
    collects/broadcasts the full corpus as its comparison matrix, exactly
    as the cross-join formulation would broadcast it, so it is gated by
    ``max_rows`` — O(corpus) driver memory is a scale-killer, acceptable
    only as a small-corpus oracle baseline).

    Phase 1 — candidates: each corpus Arrow batch computes one
    `batch @ corpusᵀ` matmul and keeps pairs with approximate cosine ≥
    threshold − 1e-6 (float64 error < 1e-12, so no true pair can be lost).
    Phase 2 — rescore: candidates (broadcast — the corpus never shuffles)
    join the embeddings back and the exact decimal cosine — the oracle's
    own formula — makes the final ≥ threshold call. Bit-exact output on
    any partitioning.
    """
    id_t = df.schema[VEC_ID].dataType.simpleString()
    b_ids, b_mat = _collect_matrix(df, max_rows=max_rows)
    b_unit = b_mat / np.linalg.norm(b_mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((b_ids, b_unit))

    def gen(batches):
        bi, bu = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[VEC_ID].to_numpy()
            mat = np.stack(pdf[EMBEDDING].to_numpy()).astype(np.float64)
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = unit @ bu.T
            keep = (sims >= threshold - 1e-6) & (a_ids[:, None] < bi[None, :])
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame({"id_a": a_ids[rows], "id_b": bi[cols]})

    cand = _rebalance_for_compute(df).mapInPandas(
        gen, schema=f"id_a {id_t}, id_b {id_t}"
    )
    a = with_norm(df).select(
        F.col(VEC_ID).alias("id_a"), F.col(EMBEDDING).alias("_ea"), F.col("_norm2").alias("_na")
    )
    b = with_norm(df).select(
        F.col(VEC_ID).alias("id_b"), F.col(EMBEDDING).alias("_eb"), F.col("_norm2").alias("_nb")
    )
    # each join broadcasts the tiny side (candidates, then candidates+A
    # embeddings) so the corpus scan stays shuffle-free at any scale
    pairs = b.join(F.broadcast(a.join(F.broadcast(cand), "id_a")), "id_b")
    cos = F.try_divide(
        _exact_dot(F.col("_ea"), F.col("_eb"), EMB_DIMS),
        F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb")),
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))
    )


def lsh_bucket(df: DataFrame) -> DataFrame:
    """Sign-bit bucket id per vector: bit p = [⟨emb, plane_p⟩ > 0].

    The md5-derived hyperplanes are deterministic constants, so they are
    materialized driver-side (operators/_planes.py — identical values to the
    SQL md5 formula the oracle uses) and shipped as array literals: the
    runtime cost per vector is LSH_BUCKET_PLANES exact dot products, no hashing.
    The whole thing is a narrow map — no shuffle until the final per-id sum,
    and the downstream candidate join is an equi-join on the bucket id.
    """
    from ._planes import hyperplanes

    planes = hyperplanes(LSH_BUCKET_PLANES, EMB_DIMS)
    df = _rebalance_for_compute(df)
    bucket = None
    for p in range(LSH_BUCKET_PLANES):
        bit = F.when(_plane_proj(planes[p]) > 0,
                     F.lit(1 << p).cast("bigint")).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return df.select(VEC_ID, bucket.alias("bucket"))


def _plane_proj(components) -> "F.Column":
    """Exact decimal ⟨emb, plane⟩ as a HOF fold, NOT an unrolled Add-tree:
    n_planes × 64 terms in one Project exceeds janino's limits → codegen
    falls back to a far slower interpreted Add-tree. The fold is interpreted
    too, but compact, and _rebalance_for_compute supplies the parallelism."""
    plane_lit = F.array(*[F.lit(c) for c in components])
    return F.aggregate(
        F.zip_with(F.col(EMBEDDING), plane_lit, lambda x, c: x.cast("double") * c),
        F.lit(0).cast(DOT_DECIMAL),
        lambda acc, x: (acc + x.cast(DOT_DECIMAL)).cast(DOT_DECIMAL),
    ).cast("double")


# The decimal projection and its float64 twin differ by at most 64
# per-term roundings to 15 dp (≤ 3.2e-14) plus the float summation error
# (≤ 64·ε·Σ|tᵢ| ≈ 2.5e-13 for unit-norm embeddings and |plane_i| ≤ 0.5,
# any summation order — tree, sequential, or BLAS-blocked). Outside
# ±_SIGN_MARGIN the two sums provably share a sign, so vectorized float64
# math decides; only |float64| ≤ margin rows (measure-zero in practice,
# handled exactly when they occur) pay the interpreted decimal fold. The
# emitted sign therefore ALWAYS equals the oracle's decimal sign — the
# fast path is an optimization with a proof, not an approximation. The
# branch choice itself may depend on the float path's summation order,
# but both branches emit the identical sign, so the OUTPUT is
# partitioning- and BLAS-independent.
_SIGN_MARGIN = 1e-9


def lsh_band_keys(df: DataFrame, n_planes: int = 96, bands: int = 8) -> DataFrame:
    """(id, band, band_key) rows: the `n_planes` sign bits split into
    ``bands`` disjoint keys of n_planes/bands bits each.

    Band keys are assembled directly — never packed through a single
    64-bit bucket — so the signature width is unbounded (96, 128, …
    planes; a 64-plane bucket would overflow the sign bit of a BIGINT).
    Narrow map + explode; the downstream candidate join is an equi-join
    on (band, band_key). Key-space sizing is the scale knob: bits/band
    should grow with log₂(corpus) so bulk collisions stay ~constant per
    row (tests/test_similarity_bounds.py measures this on a planted
    corpus at two sizes).
    """
    from ._planes import hyperplanes

    if n_planes % bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be a multiple of bands ({bands}): "
            f"a remainder would silently discard the high-order planes"
        )
    planes = hyperplanes(n_planes, EMB_DIMS)
    df = _rebalance_for_compute(df)
    id_t = df.schema[VEC_ID].dataType.simpleString()
    rows = n_planes // bands
    p_mat = np.asarray(planes, dtype=np.float64).T  # (n_dims, n_planes)
    bc = df.sparkSession.sparkContext.broadcast(p_mat)

    def gen(batches):
        pm = bc.value
        weights = (1 << np.arange(rows, dtype=np.int64))
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[EMBEDDING].to_numpy()).astype(np.float64)
            proj = mat @ pm  # (batch, n_planes) — one BLAS matmul
            # projections within the sign margin of zero can't be decided
            # in float64 (see _SIGN_MARGIN proof above) — recompute JUST
            # those in exact decimal, in-place, before taking signs
            amb_r, amb_p = np.nonzero(np.abs(proj) <= _SIGN_MARGIN)
            for r, p in zip(amb_r.tolist(), amb_p.tolist()):
                proj[r, p] = 1.0 if _decimal_dot_positive(mat[r], pm[:, p]) else -1.0
            bits = (proj > 0).astype(np.int64).reshape(-1, bands, rows)
            keys = (bits * weights[None, None, :]).sum(axis=2)  # (batch, bands)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    VEC_ID: np.repeat(pdf[VEC_ID].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "band_key": keys.reshape(-1),
                }
            )

    # No checkpoint: the self-join's exchanges sit above identical
    # mapInPandas subtrees, so ReuseExchange runs the scan + matmul once —
    # measured: a localCheckpoint only added its materialization cost
    # (+8 s cold, +0.3 s warm at sf0.1).
    return df.mapInPandas(gen, schema=f"{VEC_ID} {id_t}, band int, band_key bigint")


def _decimal_dot_positive(x_row, plane_col) -> bool:
    """Exact DECIMAL(18,15) sign of ⟨x, plane⟩, reproducing the JVM/DuckDB
    cast bit for bit: each float64 product → shortest decimal repr
    (Python ``repr`` and Java ``Double.toString`` both emit the shortest
    round-tripping decimal, i.e. the same VALUE) → quantize to 15 dp
    half-up → exact integer-backed Decimal sum. Only consulted for
    projections inside ±_SIGN_MARGIN, where float64 can't call the sign."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-15)
    total = Decimal(0)
    for x, c in zip(x_row.tolist(), plane_col.tolist()):
        total += Decimal(repr(x * c)).quantize(q, rounding=ROUND_HALF_UP)
    return total > 0


def _band_keys_decimal(df: DataFrame, planes) -> DataFrame:
    """Pure-Catalyst exact-decimal band keys: one interpreted HOF fold per
    plane. The reference implementation the vectorized `lsh_band_keys` fast
    path must equal (tests cross-check them); too expensive to analyze and
    run for wide signatures, which is exactly why the fast path exists."""
    n_planes = len(planes)
    rows = n_planes // 4
    keys = []
    for t in range(4):
        key = None
        for j in range(rows):
            bit = F.when(
                _plane_proj(planes[t * rows + j]) > 0,
                F.lit(1 << j).cast("bigint"),
            ).otherwise(0)
            key = bit if key is None else key + bit
        keys.append(
            F.struct(F.lit(t).cast("int").alias("band"), key.alias("band_key"))
        )
    return (
        df.select(VEC_ID, F.explode(F.array(*keys)).alias("bk"))
        .select(VEC_ID, "bk.band", "bk.band_key")
    )


def lsh_band_candidates(
    df: DataFrame,
    n_planes: int = 96,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs agreeing on ≥1 whole band — the
    banded-LSH candidate set, met in (band, band_key) hash buckets via
    equi-join. The O(n²) cross join never exists; candidate volume is
    Θ(Σ bucket²), governed by the band-key width (see `lsh_band_keys`).

    ``max_bucket`` is the same skew guardrail the MinHash/SimHash bands
    carry (operators/dedup.py): a near-constant-vector corpus signs
    identically on every plane, so one (band, band_key) bucket holds the
    whole corpus and the equi-join degenerates to the cross join the
    banding exists to avoid. The cap drops hot buckets via a broadcast
    anti-join (candidates then bounded by buckets·max_bucket²/2;
    adversarial corpus exercised in tests/test_similarity_bounds.py), at
    the usual recall caveat: a pair is lost only if EVERY band it agrees
    on is hot — mass-duplicate clusters belong to exact dedup first. Off
    by default; `band_bucket_histogram` over the banded keys shows the
    tail so the cap can be chosen from data."""
    from .dedup import _drop_hot_buckets

    banded = lsh_band_keys(df, n_planes, bands)
    if max_bucket is not None:
        banded = _drop_hot_buckets(banded, ["band", "band_key"], max_bucket)
    left = banded.select(F.col(VEC_ID).alias("id_a"), "band", "band_key")
    right = banded.select(F.col(VEC_ID).alias("id_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair can agree on several bands — dedup before the rescore
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_near_dup_pairs(df: DataFrame) -> DataFrame:
    """Embedding near-dup pairs at scale: banded hyperplane-LSH candidates
    → double-precision prescreen → exact decimal rescore. No driver-side
    collect anywhere — this is the 100 TB path the brute-force
    `near_dup_pairs` baseline is gated against.

    Candidates come from `lsh_band_candidates`: two vectors are candidates
    when they agree on ANY whole band of sign bits (the OR-of-ANDs LSH
    amplification — the same banding scheme MinHash-LSH uses on Jaccard).
    LSH_PLANES = 96 planes in LSH_BANDS = 8 bands give 12-bit band keys (4096 values
    per band), so bulk-pair collisions are ~(collision_prob)¹² per band —
    at 12 bits the fixture's candidate set is ~80× smaller than the old
    4-bit parameterization, whose 16 keys/band made the equi-join a
    disguised cross join (Θ(n²/16) candidates per band). Band-key width
    is THE scale knob: grow bits/band with log₂(corpus).

    Survivors are prescreened with a plain-double dot (compiled, no
    Decimal allocation, ~10× cheaper) against the unnormalized bound
    dot ≥ threshold·‖a‖‖b‖ − ε, whose ε has a relative term for the
    float64 sum error and an absolute term for the exact path's decimal
    quantization — valid for any embedding norm (see inline proof), so no
    true pair can be lost. Only prescreen survivors pay the exact DECIMAL(18,15)
    cosine — the oracle's own formula — which makes the final ≥ threshold
    call, so emitted pairs are bit-deterministic on any partitioning.
    Recall is the standard banded-LSH curve (bits/band trade candidate
    volume against recall near the threshold); every emitted pair is
    exact, and the deterministic md5 hyperplanes mean the DuckDB oracle
    reproduces the identical candidate set, so even the approximate
    recall is hash-checkable, not hand-waved.
    """
    # one rebalance shared by every compute stage: the banded keys, and
    # the per-side decimal norms (otherwise each join side computes its
    # 64-term decimal norm on however few splits the scan produced)
    src = _rebalance_for_compute(df)
    cand = lsh_band_candidates(src, LSH_PLANES, LSH_BANDS)
    a = with_norm(src).select(
        F.col(VEC_ID).alias("id_a"),
        F.col(EMBEDDING).alias("_ea"),
        F.col("_norm2").alias("_na"),
    )
    b = with_norm(src).select(
        F.col(VEC_ID).alias("id_b"),
        F.col(EMBEDDING).alias("_eb"),
        F.col("_norm2").alias("_nb"),
    )
    pairs = cand.join(a, "id_a").join(b, "id_b")
    return _prescreened_exact_cosine(pairs, LSH_THRESHOLD)


def _prescreened_exact_cosine(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine ≥ threshold) from candidate pairs carrying
    `_ea`/`_eb` embedding arrays and `_na`/`_nb` decimal norms — the
    shared verify half of every two-phase near-dup operator (banded LSH,
    SemDeDup cells): a compiled double-precision prescreen bounds the
    candidates, then only survivors pay the exact DECIMAL(18,15) cosine
    that makes the final threshold call.

    Prescreen on the UNNORMALIZED inequality dot ≥ t·‖a‖‖b‖ − ε so the
    margin is valid for ANY embedding norm: the float64 tree-sum's error
    is ≤ ~7·eps·Σ|aᵢbᵢ| ≤ 1e-14·‖a‖‖b‖ (Cauchy-Schwarz) — relative, so
    the 1e-9·‖a‖‖b‖ term covers it — while the exact path's per-term
    DECIMAL(18,15) quantization adds ≤ 64·5e-16 ≈ 3.2e-14 ABSOLUTE,
    covered by the 1e-12 constant. A normalized `approx_cos ≥ t − 1e-6`
    screen would silently drop true pairs once ‖a‖‖b‖ < ~3e-8, where
    quantization error outgrows a fixed cosine margin.
    """
    dot64 = _tree_sum(
        [
            F.col("_ea")[i].cast("double") * F.col("_eb")[i].cast("double")
            for i in range(EMB_DIMS)
        ]
    )
    norm_prod = F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb"))
    prescreen = dot64 >= F.lit(threshold) * norm_prod - (
        F.lit(1e-12) + F.lit(1e-9) * norm_prod
    )
    cos = F.try_divide(_exact_dot(F.col("_ea"), F.col("_eb"), EMB_DIMS), norm_prod)
    return (
        pairs.filter(prescreen)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))
    )


def ivf_cells(df: DataFrame, exact: bool = False) -> DataFrame:
    """IVF coarse-quantizer assignment: cell = argmax⟨emb, centroid_c⟩.

    The inverted-file ANN layout: vectors land in the cell of their best
    (max-inner-product — the cosine-IVF criterion for unit-normalized
    corpora) deterministic md5-derived centroid; a search then probes only
    matching cells. Dot products keep the exact decimal formula's argmax
    semantics (ties → lowest cell id) — engine- and partitioning-
    independent — via the guarded Arrow fast path (`ivf_assign`).
    Narrow map, no shuffle — at 100 TB this is a pure scan + write,
    typically feeding `partitionBy(cell)` so probes become partition pruning.

    `exact=True` keeps the pure Column-expression decimal path — the
    differential twin the fast path is tested against."""
    from ._planes import hyperplanes

    cents = hyperplanes(IVF_CELLS, EMB_DIMS, prefix="ivf:")
    df = _rebalance_for_compute(df)
    if exact:
        best = _ivf_best(cents)
        return df.select(
            VEC_ID,
            (-best["negc"]).cast("int").alias("cell"),
            F.round(best["dot"], 9).alias("cell_dot"),
        )
    return ivf_assign(df, cents, with_dot=True)


def _ivf_best(cents) -> "F.Column":
    """(best dot, −cell) struct for the IVF argmax — array_max over
    (dot, −cell) structs: lexicographic max picks the highest dot, then —
    on exact ties — the smallest cell id. The dots use the HOF decimal
    fold, NOT the unrolled form: n_cells×n_dims unrolled decimal Adds in
    one Project exceed janino's method limit (silent interpreted fallback,
    slower than the HOF — see the 16×64 case in the module history)."""

    def dot_c(c: int):
        cent_lit = F.array(*[F.lit(v) for v in cents[c]])
        return F.aggregate(
            F.zip_with(F.col(EMBEDDING), cent_lit, lambda x, v: x.cast("double") * v),
            F.lit(0).cast(DOT_DECIMAL),
            lambda acc, x: (acc + x.cast(DOT_DECIMAL)).cast(DOT_DECIMAL),
        ).cast("double")

    return F.array_max(
        F.array(
            *[
                F.struct(dot_c(c).alias("dot"), F.lit(-c).alias("negc"))
                for c in range(len(cents))
            ]
        )
    )


def ivf_probe_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF search: probe each query's `IVF_PROBES` best cells, exact top-`TOP_K`
    cosine inside them only.

    The inverted-file read path that pairs with `ivf_cells`' write path:
    the corpus is assigned to cells (at rest: ``partitionBy(cell)``), a
    query probes its best cells by centroid inner product, and only those
    cells' vectors are scored — an equi-join on `cell` with the tiny probe
    list broadcast, so the corpus NEVER shuffles and, on a cell-partitioned
    layout, never even scans the unprobed ~(1 − IVF_PROBES/IVF_CELLS) of its
    partitions. Candidate volume is ≈ n·IVF_PROBES/IVF_CELLS per query vs n for
    brute force. Everything is deterministic (md5 centroids, exact decimal
    dots, ties → lowest cell / lowest neighbor id), so the approximate
    search still has a bit-exact oracle.

    Split into `ivf_index` (the at-rest index rows a maintenance path
    appends) + `ivf_topk_from_index` (the serving path) so the batch
    search and the streaming index-maintenance parity score through ONE
    definition."""
    return ivf_topk_from_index(ivf_index(corpus), queries)


def ivf_index(corpus: DataFrame) -> DataFrame:
    """The at-rest IVF index rows: (neighbor_id, _ce, _cn, cell).

    Cell assigned inline (same semantics as ivf_cells, via the guarded
    Arrow fast path) — a narrow map on the corpus scan, NOT a self-join
    back to ivf_cells' output: the 100 TB corpus must never shuffle for
    its own cell id. The decimal-exact _norm2 is computed JVM-side BEFORE
    the Arrow stage and rides along, so the serving path's exact rescore
    keeps bit-exact norms. Incremental maintenance appends exactly these
    rows per delta (each vector's cell depends only on its own embedding,
    so per-batch assignment IS the global assignment); at rest the table
    lives ``partitionBy(cell)`` so probes become partition pruning."""
    from ._planes import hyperplanes

    cents = hyperplanes(IVF_CELLS, EMB_DIMS, prefix="ivf:")
    return ivf_assign(
        with_norm(_rebalance_for_compute(corpus)),
        cents,
        extra_cols=("_norm2",),
        keep_emb=True,
    ).select(
        F.col(VEC_ID).alias("neighbor_id"),
        F.col(EMBEDDING).alias("_ce"),
        F.col("_norm2").alias("_cn"),
        "cell",
    )


def ivf_topk_from_index(index: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF serving path: probe the queries' best cells against an
    ALREADY-BUILT index frame (`ivf_index`'s columns) and exact-rescore
    only the probed cells' vectors."""
    from ._planes import hyperplanes

    cents = hyperplanes(IVF_CELLS, EMB_DIMS, prefix="ivf:")

    # HOF (not unrolled) dots on the 10-row query side: interpreted eval is
    # irrelevant at that cardinality, and the compact expression tree keeps
    # Catalyst analysis cheap — the unrolled form here tripled plan-build
    # time for zero execution gain.
    def dot_c(c: int):
        cent = F.array(*[F.lit(v) for v in cents[c]])
        return _exact_dot(F.col(EMBEDDING), cent, None)

    # ascending sort on (−dot, cell) ≡ dot desc, ties → lowest cell id
    probes = F.slice(
        F.array_sort(
            F.array(
                *[
                    F.struct((-dot_c(c)).alias("negdot"), F.lit(c).alias("c"))
                    for c in range(IVF_CELLS)
                ]
            )
        ),
        1,
        IVF_PROBES,
    )
    q_probe = (
        with_norm(queries.select(VEC_ID, EMBEDDING))
        .withColumn("_p", F.explode(probes))
        .select(
            F.col(VEC_ID).alias("query_id"),
            F.col(EMBEDDING).alias("_qe"),
            F.col("_norm2").alias("_qn"),
            F.col("_p.c").alias("cell"),
        )
    )
    pairs = index.join(F.broadcast(q_probe), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # Prescreen with a plain-double dot (compiled, no Decimal allocation —
    # ~10× cheaper than the exact form): any exact-top-k pair's double
    # cosine is within float error (≪ 1e-9) of its exact value, so keeping
    # everything within 1e-9 of the k-th best approximate cosine is a strict
    # superset of the exact answer. Exact decimal cosine then runs on ~k+ε
    # survivors per query instead of every candidate.
    approx = F.try_divide(
        _tree_sum(
            [
                F.col("_qe")[i].cast("double") * F.col("_ce")[i].cast("double")
                for i in range(EMB_DIMS)
            ]
        ),
        F.sqrt(F.col("_qn")) * F.sqrt(F.col("_cn")),
    )
    w_approx = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("_acos"), F.col("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    kth = F.nth_value(F.col("_acos"), TOP_K).over(w_approx)
    survivors = (
        pairs.select("query_id", "neighbor_id", "_qe", "_qn", "_ce", "_cn",
                     approx.alias("_acos"))
        .select("*", kth.alias("_kth"))
        .filter(F.col("_kth").isNull() | (F.col("_acos") >= F.col("_kth") - F.lit(1e-9)))
    )
    cos = F.try_divide(
        _exact_dot(F.col("_qe"), F.col("_ce"), EMB_DIMS),
        F.sqrt(F.col("_qn")) * F.sqrt(F.col("_cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        survivors.select("query_id", "neighbor_id", cos.alias("cosine"))
        .select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"), "rank")
    )


def semdedup_pairs(df: DataFrame) -> DataFrame:
    """Within-cluster semantic-duplicate pairs — the pair half of SemDeDup
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): vectors are bucketed by their
    k-means/IVF cell, and ONLY same-cell pairs are compared, so the pair
    space is Σ|cell|², never corpus². At web scale k grows with the
    corpus (the paper uses 50k clusters for LAION) keeping |cell|
    bounded, and the per-cell join below is an equi-join on `cell` —
    cells can also be physically partitioned (`partitionBy(cell)`, like
    the IVF layout) so each comparison task reads one cell's file. Pairs
    in DIFFERENT cells are missed by design — the SemDeDup recall
    tradeoff, priced against never materializing cross-cell candidates.

    Cell assignment runs the guarded Arrow fast path (`ivf_assign`);
    survivors of the double-precision prescreen pay the exact
    DECIMAL(18,15) cosine, so emitted pairs are bit-deterministic and
    DuckDB-checkable like the banded-LSH family.
    """
    from ._planes import hyperplanes

    src = _rebalance_for_compute(df)
    cents = hyperplanes(IVF_CELLS, EMB_DIMS, prefix="ivf:")
    assigned = with_norm(ivf_assign(src, cents, keep_emb=True))
    a = assigned.select(
        F.col(VEC_ID).alias("id_a"),
        "cell",
        F.col(EMBEDDING).alias("_ea"),
        F.col("_norm2").alias("_na"),
    )
    b = assigned.select(
        F.col(VEC_ID).alias("id_b"),
        "cell",
        F.col(EMBEDDING).alias("_eb"),
        F.col("_norm2").alias("_nb"),
    )
    pairs = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    return _prescreened_exact_cosine(pairs, SEMDEDUP_THRESHOLD)


def semantic_dedup(df: DataFrame) -> DataFrame:
    """Full SemDeDup: within-cell semantic-dup pairs → connected
    components → keep ONE representative per duplicate group — the
    member with the LOWEST similarity to its cell centroid (the paper's
    keep-"farthest-from-centroid" policy: among near-identical copies,
    prefer the least prototypical one to preserve diversity), ties to
    the lowest id. Singletons are their own group and always kept, so
    the output covers the full corpus with a kept flag:
    (id, cell, cell_dot, cluster_id, kept).

    The clustering is the same per-round equi-join label propagation as
    the MinHash dedup chain (operators/graph.py::connected_components),
    over a pairs list the cell bucketing already bounded."""
    from ._planes import hyperplanes
    from .graph import connected_components

    src = _rebalance_for_compute(df)
    cents = hyperplanes(IVF_CELLS, EMB_DIMS, prefix="ivf:")
    assigned = ivf_assign(src, cents, with_dot=True)
    pairs = semdedup_pairs(df)
    cc = connected_components(pairs)
    labeled = (
        assigned.join(cc, assigned[VEC_ID] == cc.node, "left")
        .select(
            VEC_ID,
            "cell",
            "cell_dot",
            F.coalesce("component", F.col(VEC_ID)).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.asc("cell_dot"), F.asc(VEC_ID))
    return labeled.select(
        VEC_ID,
        "cell",
        "cell_dot",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("kept"),
    )


def pca_power_components(
    cov_rows: list, n_components: int = 2, n_iter: int = 50_000
) -> "np.ndarray":
    """Top-k principal components by power iteration with deflation, from
    the COLLECTED upper-triangle covariance rows (d1, d2, cov) — the
    matrix is dim², vocabulary-bounded like the k-means centroid grid, so
    the driver-side eigensolve costs nothing at any corpus size. Init is
    md5-derived (the hyperplane constants), not RNG — deterministic on
    any cluster. Convergence-stopped (Δv < 1e-13 between iterations):
    natural-data covariance spectra can be near-degenerate, where the
    (λ₂/λ₁)^n rate needs thousands of the ~4k-flop dim² matmuls — still
    microseconds. Sign convention: the largest-|component| coordinate is
    made positive (eigenvectors are sign-ambiguous)."""
    from ._planes import hyperplane_component

    c = np.zeros((EMB_DIMS, EMB_DIMS))
    for r in cov_rows:
        # cov is NULL when the corpus has a single vector (sample
        # covariance undefined at n=1) — treat as the zero matrix so the
        # eigensolve degrades to the deterministic init, never a crash
        v = r["cov"] if r["cov"] is not None else 0.0
        c[r["d1"], r["d2"]] = v
        c[r["d2"], r["d1"]] = v
    comps = []
    for k in range(n_components):
        v = np.array([hyperplane_component(k, d, "pca:") for d in range(EMB_DIMS)])
        v /= np.linalg.norm(v)
        for _ in range(n_iter):
            w = c @ v
            for u in comps:
                w -= (w @ u) * u
            n = np.linalg.norm(w)
            if n == 0.0:
                break
            w /= n
            # ±w both count as converged: a NEGATIVE dominant eigenvalue
            # makes the iterate flip sign every step (w ≈ −v at the fixed
            # point), so testing only ‖w − v‖ would silently burn all
            # n_iter matmuls and return a direction mid-oscillation
            # (ADVICE r7). For eigvec purposes v and −v are the same
            # answer; the sign pivot below canonicalizes.
            if min(
                np.linalg.norm(w - v), np.linalg.norm(w + v)
            ) < 1e-13:
                v = w
                break
            v = w
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append(v)
    return np.stack(comps)


def pca_project(
    emb: DataFrame,
    components: "np.ndarray",
    mean: "np.ndarray | None" = None,
) -> DataFrame:
    """Project every embedding onto the given components — one Arrow
    matmul pass ((batch − mean) @ compsᵀ), the XᵀX-partials production
    shape; the component matrix (k × dim floats) and the mean vector
    ship in the task closure. The components come from the mean-CENTERED
    covariance, so true PCA scores require subtracting the same mean —
    omit it only when you want raw projections. Output: (id, pc1..pck)
    rounded to 6dp."""
    id_t = emb.schema[VEC_ID].dataType.simpleString()
    k = components.shape[0]
    comps = components.copy()
    mu = None if mean is None else np.asarray(mean, dtype=np.float64)
    out_schema = f"{VEC_ID} {id_t}, " + ", ".join(
        f"pc{i + 1} double" for i in range(k)
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[EMBEDDING].to_numpy()).astype(np.float64)
            if mu is not None:
                mat = mat - mu[None, :]
            proj = np.round(mat @ comps.T, 6)
            out = {VEC_ID: pdf[VEC_ID].to_numpy()}
            for i in range(k):
                out[f"pc{i + 1}"] = proj[:, i]
            yield pd.DataFrame(out)

    return _rebalance_for_compute(emb.select(VEC_ID, EMBEDDING)).mapInPandas(
        gen, schema=out_schema
    )
