"""Product quantization (PQ) for the embedding surface (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search").

The memory side of ANN at 100 TB: IVF (operators/similarity.py::ivf_cells)
prunes WHICH vectors a search reads; PQ compresses WHAT is stored — a
64-dim float32 vector (256 bytes) becomes 8 four-bit codes (4 bytes, 64×),
so the candidate set a probe rescans fits in cache instead of spilling.
Search is asymmetric (ADC): the query stays full-precision, per-subspace
distances to every centroid are precomputed once into a tiny lookup table,
and each corpus vector's approximate distance is 8 table lookups — the
corpus-side scan never touches floats.

Like the IVF/LSH family, the codebooks are deterministic md5-derived
constants (operators/_planes.py) rather than trained k-means: the
quantize/encode/ADC machinery — the part with engine content — is
bit-for-bit checkable against the DuckDB oracle, which a data-dependent
training loop would prevent. A trained codebook drops in by replacing
`_codebook()`; every plan shape below is unchanged.

Exactness: squared distances accumulate as DECIMAL(18,15) (values are
bounded: embeddings ∈ [-0.6, 0.6], centroids ∈ [-0.5, 0.5) ⇒ each term
≤ ~1.2, a subspace sum ≤ ~10), so per-subspace argmins and ADC sums are
engine- and partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import EMB_DIMS, EMBEDDING, VEC_ID
from ._planes import hyperplanes
from .rounding import ambiguous_round9
from .similarity import IVF_CELLS, IVF_PROBES, TOP_K

DIST_DECIMAL = "decimal(18,15)"

N_SUBSPACES = 8
SUB_DIM = 8
N_CENTROIDS = 16
_PREFIX = "pq:"


def _codebook():
    """(centroid, global-dim) component grid; subspace j's centroid c is
    the slice [j*SUB_DIM, (j+1)*SUB_DIM)."""
    return hyperplanes(N_CENTROIDS, EMB_DIMS, prefix=_PREFIX)


def _sub_dist(j: int, cent_slice: tuple[float, ...]):
    """Exact decimal ‖x_j − c‖² over subspace j's slice: the (x−v)² terms
    are deterministic IEEE doubles, summed as decimals (HOF fold — the
    unrolled form's codegen would not fit a janino method, see
    similarity.py::_ivf_best)."""
    subemb = F.slice(F.col(EMBEDDING), j * SUB_DIM + 1, SUB_DIM)
    cent_lit = F.array(*[F.lit(v) for v in cent_slice])
    return F.aggregate(
        F.zip_with(
            subemb,
            cent_lit,
            lambda x, v: (x.cast("double") - v) * (x.cast("double") - v),
        ),
        F.lit(0).cast(DIST_DECIMAL),
        lambda acc, t: (acc + t.cast(DIST_DECIMAL)).cast(DIST_DECIMAL),
    )


def pq_encode(
    df: DataFrame,
    extra_cols: tuple[str, ...] = (),
    exact: bool = False,
) -> DataFrame:
    """Quantize: (id, subspace, code, dist) — per subspace the nearest
    centroid (decimal-exact argmin semantics, ties → lowest code). Still
    a narrow map — no join, no shuffle: at 100 TB this is the pure
    scan+write that produces the 4-bytes-per-vector code table.

    Default path: one Arrow-batched mapInPandas stage — a vectorized
    float64 argmin with an EXACT-DECIMAL fallback for ambiguous rows,
    the same fast-path/exact-fallback architecture as the LSH band keys
    (similarity.py). float64 subspace distances carry ≤ ~5e-15 absolute
    error vs the decimal formula (8 quantized terms ≤ 1.3 each), so any
    row whose argmin margin OR whose output-rounding distance clears
    1e-9 / 1e-5×1e-9 is provably identical to the decimal result; the
    rare row inside the guard band is recomputed with Python Decimal
    replicating Spark's cast/round semantics digit for digit. Measured
    ~8× over the Column-expression form at sf0.1 (the 128 HOF decimal
    folds per vector evaluate interpreted, outside codegen; unrolling
    them is *slower* still — Catalyst re-inlines the 1024-term tree
    into every consumer).

    `exact=True` keeps the pure Column-expression decimal path — the
    differential twin the fast path is tested against
    (tests/test_pq.py::test_fast_path_equals_exact_path)."""
    if not exact:
        return _pq_encode_arrow(df, extra_cols)
    cb = _codebook()
    per_j = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.array_min(
                    F.array(
                        *[
                            F.struct(
                                _sub_dist(
                                    j,
                                    cb[c][j * SUB_DIM : (j + 1) * SUB_DIM],
                                ).alias("dist"),
                                F.lit(c).alias("code"),
                            )
                            for c in range(N_CENTROIDS)
                        ]
                    )
                ).alias("best"),
            )
            for j in range(N_SUBSPACES)
        ]
    )
    return (
        df.select(F.col(VEC_ID), *extra_cols, F.explode(per_j).alias("s"))
        .select(
            VEC_ID,
            *extra_cols,
            F.col("s.subspace").alias("subspace"),
            F.col("s.best.code").alias("code"),
            F.round(F.col("s.best.dist").cast("double"), 9).alias("dist"),
        )
    )


def _pq_encode_arrow(df: DataFrame, extra_cols: tuple[str, ...]) -> DataFrame:
    """Vectorized encode fast path (see pq_encode). Guard bands:
    - argmin margin < 1e-9  → the float winner could differ from the
      decimal winner (bound ~5e-15 ≪ guard);
    - |dist×1e9 − nearest int| < 1e-5 → round(dist, 9) could land on the
      other side of the half-up boundary;
    either sends that (vector, subspace) through `_exact_sub` — Python
    Decimal replicating Spark's double→DECIMAL(18,15) cast (HALF_UP on
    the shortest repr) and round(x, 9) semantics exactly."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cb = np.array(_codebook(), dtype=np.float64)  # (16, 64)
    in_schema = df.schema
    out_schema = StructType(
        [in_schema[VEC_ID]]
        + [in_schema[c] for c in extra_cols]
        + [
            StructField("subspace", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("dist", DoubleType(), True),
        ]
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[EMBEDDING]])
            codes = np.empty((n, N_SUBSPACES), dtype=np.int32)
            dists = np.empty((n, N_SUBSPACES), dtype=np.float64)
            for j in range(N_SUBSPACES):
                lo, hi = j * SUB_DIM, (j + 1) * SUB_DIM
                diff = X[:, None, lo:hi] - cb[None, :, lo:hi]  # (n,16,8)
                sq = diff * diff
                d2 = sq.sum(axis=2)
                code = d2.argmin(axis=1)  # first occurrence = lowest code
                best = d2[np.arange(n), code]
                part = np.partition(d2, 1, axis=1)
                margin = part[:, 1] - part[:, 0]
                amb = (margin < 1e-9) | ambiguous_round9(best)
                out_d = np.round(best, 9)
                for i in np.nonzero(amb)[0]:
                    code[i], out_d[i] = _exact_sub(sq[i])
                codes[:, j] = code
                dists[:, j] = out_d
            out = {VEC_ID: np.repeat(pdf[VEC_ID].to_numpy(), N_SUBSPACES)}
            for c in extra_cols:
                out[c] = np.repeat(pdf[c].to_numpy(), N_SUBSPACES)
            out["subspace"] = np.tile(
                np.arange(N_SUBSPACES, dtype=np.int32), n
            )
            out["code"] = codes.reshape(-1)
            out["dist"] = dists.reshape(-1)
            yield pd.DataFrame(out)

    return df.select(VEC_ID, *extra_cols, EMBEDDING).mapInPandas(gen, schema=out_schema)


def _exact_sub(sq_terms) -> tuple[int, float]:
    """Decimal-exact (code, rounded dist) for one (vector, subspace):
    sq_terms is the (16, SUB_DIM) float64 squared-difference grid. Each
    term goes through Spark's double→DECIMAL(18,15) cast semantics
    (BigDecimal.valueOf == shortest repr, then setScale HALF_UP), sums
    exactly, argmin ties to the lowest code, and the winning distance is
    CAST AS DOUBLE (correctly rounded) then round(·, 9) HALF_UP — digit
    for digit what the Column-expression path computes."""
    import decimal

    q15 = decimal.Decimal("1e-15")
    q9 = decimal.Decimal("1e-9")
    best: tuple[decimal.Decimal, int] | None = None
    for c, row in enumerate(sq_terms):
        s = sum(
            (
                decimal.Decimal(repr(float(t))).quantize(
                    q15, rounding=decimal.ROUND_HALF_UP
                )
                for t in row
            ),
            decimal.Decimal(0),
        )
        if best is None or (s, c) < best:
            best = (s, c)
    s, c = best
    as_double = float(s)
    rounded = float(
        decimal.Decimal(repr(as_double)).quantize(
            q9, rounding=decimal.ROUND_HALF_UP
        )
    )
    return c, rounded


def pq_lut(queries: DataFrame) -> DataFrame:
    """Query-side ADC lookup table: (query_id, subspace, code, qdist) —
    ‖q_j − c‖² for every (subspace, centroid). |queries|×8×16 rows, built
    in one projection and small enough to broadcast."""
    cb = _codebook()
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.lit(c).alias("code"),
                _sub_dist(j, cb[c][j * SUB_DIM : (j + 1) * SUB_DIM]).alias("qdist"),
            )
            for j in range(N_SUBSPACES)
            for c in range(N_CENTROIDS)
        ]
    )
    return (
        queries.select(F.col(VEC_ID).alias("query_id"), F.explode(cells).alias("s"))
        .select("query_id", "s.subspace", "s.code", "s.qdist")
    )


def pq_adc_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, neighbor_id, adc_dist, rank).

    The corpus side joins its codes against the BROADCAST lookup table on
    (subspace, code) and sums 8 exact decimals per (query, vector). That
    is the PQ contract at scale: the corpus scan reads 4-byte codes, never
    floats, and all float work is query-side and tiny. Ranking is
    ascending approximate L2, ties by neighbor id."""
    lut = pq_lut(queries)
    codes = pq_encode(corpus).select(
        F.col(VEC_ID).alias("neighbor_id"), "subspace", "code"
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qdist").alias("adc"))
    )
    return _rank_topk(scored)


def _rank_topk(scored: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, adc) → top-k rows with rounded distance and
    rank (ascending approximate L2, ties by neighbor id)."""
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round(F.col("adc").cast("double"), 9).alias("adc_dist"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= TOP_K)
    )


def ivfpq_adc_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """The composed FAISS-style index — IVF prunes WHICH vectors are read,
    PQ compresses WHAT is read: each query probes its `IVF_PROBES` best IVF
    cells and ADC-scores ONLY those cells' 4-byte codes.

    Corpus side stays one narrow projection: the IVF cell id (same
    expression as similarity.py::ivf_cells — never a join back to its
    output) rides along the PQ code explode, so at rest this is the
    `partitionBy(cell)` code table and a probe is partition pruning over
    4-byte rows. Query side: (probe cells × full LUT) ≈ IVF_PROBES×8×16 rows
    per query, broadcast; the corpus-side join key (cell, subspace, code)
    restricts candidates to probed cells with zero extra plan nodes.
    Candidate volume ≈ n·IVF_PROBES/IVF_CELLS, bytes read ≈ 1/64 of the float
    corpus — multiplicative with the IVF pruning."""
    from ._planes import hyperplanes
    from .similarity import _exact_dot, ivf_assign

    cents = hyperplanes(IVF_CELLS, EMB_DIMS, prefix="ivf:")

    def dot_c(c: int):
        cent = F.array(*[F.lit(v) for v in cents[c]])
        return _exact_dot(F.col(EMBEDDING), cent, None)

    # ascending sort on (−dot, cell) ≡ dot desc, ties → lowest cell id —
    # identical probe rule to ivf_probe_topk.
    probes = F.slice(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        (-dot_c(c)).alias("negdot"), F.lit(c).alias("c")
                    )
                    for c in range(IVF_CELLS)
                ]
            )
        ),
        1,
        IVF_PROBES,
    )
    q_probe = queries.select(
        F.col(VEC_ID).alias("query_id"), F.explode(probes).alias("_p")
    ).select("query_id", F.col("_p.c").alias("cell"))
    qside = q_probe.join(pq_lut(queries), "query_id")

    assigned = ivf_assign(corpus, cents, keep_emb=True)
    codes = pq_encode(assigned, extra_cols=("cell",)).select(
        F.col(VEC_ID).alias("neighbor_id"), "cell", "subspace", "code"
    )
    scored = (
        codes.join(F.broadcast(qside), ["cell", "subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qdist").alias("adc"))
    )
    return _rank_topk(scored)
