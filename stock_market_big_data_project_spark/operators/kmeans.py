"""Distributed Lloyd's k-means over the embedding corpus — the trainer
that turns the md5-derived IVF/PQ codebooks into data-fitted ones.

The iteration is the classic Spark shape (and the reason k-means is the
canonical "iterative algorithm on a data-parallel engine" example):

- ASSIGN is a narrow map — current centroids ship as plan literals, each
  vector computes k L2 distances (HOF fold, like similarity.py::_ivf_best)
  and takes the argmin (ties → lowest cell). No join, no shuffle. (The
  HOF evaluates interpreted — fine at fixture scale and for a trainer
  whose cost is iterations × scans; a corpus-scale deployment would swap
  in the guarded-Arrow assignment pattern of similarity.py::ivf_assign.)
- UPDATE is one map-side-combined aggregate — explode (cell, dim, value)
  and sum/count per (cell, dim): k×d tiny rows to the driver, new means,
  next round. Empty cells keep their previous centroid.

So a 100 TB corpus pays one scan + one k×d-row shuffle per iteration and
the driver holds only the k×d centroid grid — the same cost model as
spark.ml's KMeans, expressed directly on DataFrames.

Numerics: assignment distances and mean updates run in plain float64 —
k-means is tolerance-land in every engine (sums depend on partition
order at the 1e-16 level), so the check is a numpy differential with
atol (tests/test_kmeans.py), the established pattern for the trainer
operators (recursive forecast, Granger numerics). The deterministic
md5 init makes runs reproducible end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import EMB_DIMS, EMBEDDING, VEC_ID
from ._planes import hyperplanes


def _dist2(cent: tuple[float, ...]):
    """float64 ‖x − c‖² as a HOF fold (unrolled k×d Adds would exceed a
    janino method for the larger grids, see similarity.py::_ivf_best)."""
    cent_lit = F.array(*[F.lit(v) for v in cent])
    return F.aggregate(
        F.zip_with(
            F.col(EMBEDDING),
            cent_lit,
            lambda x, v: (x.cast("double") - v) * (x.cast("double") - v),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _best(centroids: list[tuple[float, ...]]):
    """(dist2, cell) struct of the nearest centroid — argmin with ties →
    lowest cell, as a narrow expression usable in any projection."""
    return F.array_min(
        F.array(
            *[
                F.struct(_dist2(c).alias("dist2"), F.lit(i).alias("cell"))
                for i, c in enumerate(centroids)
            ]
        )
    )


def assign_cells(df: DataFrame, centroids: list[tuple[float, ...]]) -> DataFrame:
    """(id, cell, dist2) — nearest centroid per vector. Pure narrow map;
    centroids are plan literals."""
    best = _best(centroids)
    return df.select(VEC_ID, best["cell"].alias("cell"), best["dist2"].alias("dist2"))


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 5,
) -> tuple[list[tuple[float, ...]], DataFrame]:
    """Train k centroids (md5-deterministic init = the untrained IVF
    codebook, prefix 'ivf:'); returns (centroids, summary DataFrame of
    (cell, size, inertia, centroid_norm2) for the FINAL assignment).

    Per iteration: one narrow assignment + ONE aggregate shuffling k×d
    rows + a k×d driver collect. The summary is computed from the final
    centroids with the same assignment expression."""
    cents = [tuple(c) for c in hyperplanes(k, EMB_DIMS, prefix="ivf:")]
    for _ in range(n_iter):
        # Assignment is a narrow expression, so it rides the SAME
        # (collapsed) projection as the explode — no join back to the
        # corpus. Two select steps: extracting a struct field in the same
        # select as a multi-alias generator trips an analyzer quirk
        # (FIELD_NOT_FOUND col1/col2); Catalyst CollapseProject merges
        # them back into one node.
        stats = (
            df.select(_best(cents)["cell"].alias("cell"), F.col(EMBEDDING))
            .select("cell", F.posexplode(F.col(EMBEDDING)).alias("d", "val"))
            .groupBy("cell", "d")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r["cell"], [0.0] * EMB_DIMS)[r["d"]] = r["s"]
            counts[r["cell"]] = r["n"]
        cents = [
            tuple(v / counts[c] for v in sums[c]) if c in counts else cents[c]
            for c in range(k)
        ]
    final = assign_cells(df, cents)
    summary = final.groupBy("cell").agg(
        F.count(F.lit(1)).alias("size"),
        F.round(F.sum("dist2"), 6).alias("inertia"),
    )
    norms = {
        c: sum(v * v for v in cents[c]) for c in range(k)
    }
    norm_col = F.element_at(
        F.array(*[F.lit(round(norms[c], 9)) for c in range(k)]),
        F.col("cell") + 1,
    )
    return cents, summary.select(
        "cell", "size", "inertia", norm_col.alias("centroid_norm2")
    )


# ---------------------------------------------------------------------------
# Decimal-exact Lloyd tier (r9) — the hash-certifiable k-means.
#
# Same algorithm, same md5 init, same tie/empty-cell rules as kmeans_train,
# but every cross-row reduction is exact: assignment distances quantize each
# per-dim squared difference to decimal(18,15) (the cosine-family idiom —
# double arithmetic, HALF_UP quantization, exact sums), and centroid updates
# are exact decimal sums divided once in double and F.round-ed to 9dp (the
# F.round ≡ DuckDB-round proven pair). Every round's centroids are therefore
# bit-identical cross-engine, which is what lets plans/training.py replay
# the WHOLE trainer as materialized CTE rounds and hash-check the output —
# the float tier above stays tolerance-land by construction (its means sum
# doubles in partition order). Quantizing at 1e-15 is ~7 decimal digits
# below float32 embedding precision, so the model difference is noise.
# ---------------------------------------------------------------------------

_DEC = "decimal(18,15)"
_DEC_ACC = "decimal(28,15)"  # 64 terms ≤ 4.0 each — 13 integer digits spare


def _dist2_exact(cent: tuple[float, ...]):
    """Exact decimal ‖x − c‖²: per-dim squared diff in double (IEEE-
    identical cross-engine), quantized to decimal(18,15), summed exactly
    in dim order (exact ⇒ order-free)."""
    cent_lit = F.array(*[F.lit(v) for v in cent])
    return F.aggregate(
        F.zip_with(
            F.col(EMBEDDING),
            cent_lit,
            lambda x, v: (
                (x.cast("double") - v) * (x.cast("double") - v)
            ).cast(_DEC),
        ),
        F.lit(0).cast(_DEC_ACC),
        lambda acc, t: (acc + t).cast(_DEC_ACC),
    )


def _best_exact(centroids: list[tuple[float, ...]]):
    """(dist2 decimal, cell) of the nearest centroid, ties → lowest cell;
    decimal comparison makes the argmin bit-deterministic."""
    return F.array_min(
        F.array(
            *[
                F.struct(_dist2_exact(c).alias("dist2"), F.lit(i).alias("cell"))
                for i, c in enumerate(centroids)
            ]
        )
    )


def kmeans_train_exact(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 5,
) -> tuple[list[tuple[float, ...]], DataFrame]:
    """kmeans_train's decimal-exact twin; returns the same
    (centroids, summary) shape with a bit-deterministic summary
    (cell, size, inertia, centroid_norm2 — 9dp-rounded exact sums).

    The per-iteration cost model is unchanged: one narrow assignment
    (decimal HOF fold instead of double) + one k×d-row aggregate; the
    9dp rounding happens IN the aggregate (F.round), so the driver only
    ferries engine-rounded literals into the next round's plan."""
    spark = df.sparkSession
    # r12: spread the single-split scan before the per-vector decimal
    # assignment fold (guide §2.5 unsplittable input) — the k×d HOF
    # distance fold evaluates interpreted (~ms-scale per row), and both
    # the per-round stats and the final timed assignment otherwise run
    # on ONE task. Decimal sums + in-aggregate 9dp rounding make every
    # round partition-order-invariant, so results are unchanged.
    # r13 (VERDICT r12 #2): size-conditional via the byte guard — a
    # multi-split scan at real scale skips the extra full-row exchange.
    from .spread import rebalance_for_compute

    df = rebalance_for_compute(df)
    cents = [tuple(c) for c in hyperplanes(k, EMB_DIMS, prefix="ivf:")]
    for _ in range(n_iter):
        stats = (
            df.select(_best_exact(cents)["cell"].alias("cell"), F.col(EMBEDDING))
            .select("cell", F.posexplode(F.col(EMBEDDING)).alias("d", "val"))
            .groupBy("cell", "d")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("double").cast(_DEC)).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    9,
                ).alias("m")
            )
            .collect()
        )
        new = {(r["cell"], r["d"]): r["m"] for r in stats}
        # empty cells keep their previous centroid, dim for dim
        cents = [
            tuple(new.get((c, d), cents[c][d]) for d in range(EMB_DIMS))
            for c in range(k)
        ]
    best = _best_exact(cents)
    final = df.select(
        F.col(VEC_ID),
        best["cell"].alias("cell"),
        best["dist2"].alias("dist2"),
    )
    # centroid norms through ENGINE arithmetic (a k×d literal frame), not
    # a driver-side float loop — F.round/duckdb-round is the proven pair,
    # a Python sum's add order would not be
    cents_df = spark.createDataFrame(
        [
            (c, d, float(cents[c][d]))
            for c in range(k)
            for d in range(EMB_DIMS)
        ],
        "cell int, d int, comp double",
    )
    norms = cents_df.groupBy("cell").agg(
        F.round(
            F.sum((F.col("comp") * F.col("comp")).cast(_DEC)).cast("double"),
            9,
        ).alias("centroid_norm2")
    )
    summary = (
        final.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.round(F.sum("dist2").cast("double"), 9).alias("inertia"),
        )
        .join(F.broadcast(norms), "cell")
        .select("cell", "size", "inertia", "centroid_norm2")
    )
    return cents, summary
