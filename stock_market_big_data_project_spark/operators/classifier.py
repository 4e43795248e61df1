"""In-engine quality classifier: logistic regression over hashed
bag-of-words features, trained by distributed batch gradient descent.

The pipeline pattern (fastText-style distillation): a cheap heuristic
(the engine's `quality_score`) weak-labels the corpus, a linear model is
trained on hashing-trick features to generalize it, and the trained
weights then score future ingest at one narrow map per document. This is
the third in-engine trainer after k-means (operators/kmeans.py) and BPE
(operators/bpe.py), built on the same distributed-iteration architecture:

- featurization is ONE staged pass (the explode → (doc, dim) aggregate of
  `doc_feature_hashing`, assembled to a dense fixed-width array and
  localCheckpoint'd — the "write the feature table once" step a real
  pipeline stages to parquet);
- every GD iteration is ONE Arrow-batched matmul pass over the staged
  table emitting per-batch partial gradients (the PQ/IVF fast-path
  architecture — a Column-expression gradient would re-plan and
  re-compile a fresh d×d codegen tree per iteration because the weights
  are plan literals; measured ~1.4 s/iteration of pure compile cost);
- the driver sums the handful of partial rows and holds only the weight
  vector, exactly like the k-means centroid grid.

No SQL oracle BY DESIGN (iterative float training, same declaration as
k-means/BPE); the strong check is the numpy differential in
tests/test_classifier.py — identical features, identical GD loop, weight
atol + exact final-prediction agreement + monotone loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import DOC_ID
from .text import STOPWORDS, md5_hash64, tokens

N_HASH = 64
# hashed dims + two engineered stats dims (length saturation, stopword
# ratio) — the "hashed n-grams + handcrafted signals" feature recipe
# real quality classifiers use
N_DIMS = N_HASH + 2


def hashed_dense_features(df: DataFrame) -> DataFrame:
    """Dense hashing-trick features + engineered stats: the
    `doc_feature_hashing` signed-hash aggregate (L1-normalized, N_HASH
    dims) assembled to a fixed-width array<double>, with two appended
    engineered dimensions — length saturation `min(n_tokens/50, 1)` and
    stopword ratio — because a pure bag-of-hashes vector cancels exactly
    the document-statistics signal quality labels ride on. Array form so
    the per-iteration dot product is array indexing (codegen), not a
    join; the map→array assembly is an interpreted per-doc transform but
    is paid ONCE in the staged featurization pass, never per iteration.
    Output: (id, features[N_HASH + 2])."""
    sc = df.sparkSession.sparkContext
    d = df.repartition(sc.defaultParallelism, DOC_ID)
    tt = d.select(DOC_ID, F.explode(tokens(F.col("text"))).alias("tok"))
    dim = (md5_hash64(F.concat(F.lit("fh:"), F.col("tok"))) % N_HASH).cast("int")
    sgn = F.when(
        md5_hash64(F.concat(F.lit("fhs:"), F.col("tok"))) % 2 == 0, 1
    ).otherwise(-1)
    is_stop = F.col("tok").isin(*STOPWORDS).cast("long")
    agg = (
        tt.select(DOC_ID, dim.alias("dim"), sgn.alias("sgn"), is_stop.alias("st"))
        .groupBy(DOC_ID, "dim")
        .agg(
            F.sum("sgn").alias("s"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("st").alias("nst"),
        )
    )
    wdoc = Window.partitionBy(DOC_ID)
    n_tokens = F.sum("cnt").over(wdoc)
    n_stop = F.sum("nst").over(wdoc)
    sparse = (
        agg.withColumn("w", F.try_divide(F.col("s").cast("double"), n_tokens))
        .withColumn(
            "len_feat", F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        )
        .withColumn(
            "stop_feat", F.try_divide(n_stop.cast("double"), n_tokens)
        )
    )
    m = sparse.groupBy(DOC_ID).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("dim"), F.col("w")))
        ).alias("_m"),
        F.first("len_feat").alias("_lf"),
        F.first("stop_feat").alias("_sf"),
    )
    feat = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(N_HASH - 1)),
            lambda i: F.coalesce(F.col("_m")[i], F.lit(0.0)),
        ),
        F.array(F.col("_lf"), F.coalesce(F.col("_sf"), F.lit(0.0))),
    )
    return m.select(DOC_ID, feat.alias("features"))


def _dot(w: list[float], bias: float):
    """w·x + b as a balanced tree of codegen multiply-adds (plan
    literals — no HOF interpretation, no join)."""
    terms = [
        F.col("features")[i] * F.lit(w[i]) for i in range(len(w)) if w[i] != 0.0
    ] or [F.lit(0.0)]
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0] + F.lit(bias)


def gradient_partials(staged: DataFrame, w, b: float) -> DataFrame:
    """One-iteration gradient as an Arrow-batched matmul pass: each batch
    emits ONE row [g_0..g_{d-1}, g_bias, loss_sum] — the per-partition
    partial gradients a distributed GD step sums. The (n × d) error
    products are matmul-shaped, so this is the same Arrow fast-path
    architecture as PQ encode / IVF assignment: a Column-expression
    gradient re-plans and re-compiles a fresh d×d codegen tree EVERY
    iteration (the weights are plan literals — measured ~1.4 s/iteration
    in pure compile cost at 25 rows), while this plan keeps its shape
    across iterations with the weights in the Python closure."""
    import numpy as np
    import pandas as pd

    wv = np.asarray(w, dtype=np.float64)
    bv = float(b)
    eps = 1e-12

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(r, dtype=np.float64) for r in pdf["x"]])
            yv = pdf["y"].to_numpy(dtype=np.float64)
            p = 1.0 / (1.0 + np.exp(-(X @ wv + bv)))
            err = p - yv
            g = X.T @ err
            loss = float(
                -(
                    yv * np.log(p + eps) + (1 - yv) * np.log(1 - p + eps)
                ).sum()
            )
            yield pd.DataFrame(
                {"part": [list(g) + [float(err.sum()), loss]]}
            )

    return staged.mapInPandas(gen, "part array<double>")


def train_logreg(
    features: DataFrame,
    lr: float = 1.0,
    n_iter: int = 15,
) -> tuple[list[float], float, list[float]]:
    """Batch gradient descent for logistic regression. Returns
    (weights, bias, per-iteration mean log-loss). One Arrow matmul pass
    per iteration (`gradient_partials`), whose per-batch partial rows
    (a handful — one per Arrow batch) are summed on the driver; the
    staged feature table is localCheckpoint'd so the lineage (and the
    featurization cost) is paid exactly once."""
    import numpy as np

    staged = features.select(
        F.col("features").alias("x"), F.col("label").cast("double").alias("y")
    ).localCheckpoint(eager=True)
    n = staged.count()
    w = [0.0] * N_DIMS
    b = 0.0
    losses: list[float] = []
    for _ in range(n_iter):
        parts = gradient_partials(staged, w, b).collect()
        tot = np.sum(
            [np.asarray(r["part"], dtype=np.float64) for r in parts], axis=0
        )
        w = [w[i] - lr * float(tot[i]) / n for i in range(N_DIMS)]
        b = b - lr * float(tot[N_DIMS]) / n
        losses.append(float(tot[N_DIMS + 1]) / n)
    return w, b, losses


def predict_proba(df: DataFrame, w: list[float], bias: float):
    """Score column from trained weights — one narrow codegen map."""
    z = _dot(w, bias)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def reference_logreg(X, y):
    """Pure-numpy twin of train_logreg for the differential test."""
    import numpy as np

    n, d = X.shape
    w = np.zeros(d)
    b = 0.0
    losses = []
    eps = 1e-12
    for _ in range(10):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        err = p - y
        losses.append(
            float(
                np.mean(
                    -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))
                )
            )
        )
        w = w - (X.T @ err) / n
        b = b - float(err.sum()) / n
    return w, b, losses


def model_blob(w: list[float], bias: float) -> bytes:
    """Pickle the trained classifier as a self-describing artifact — the
    same model-registry-as-a-table convention as stats.py::fit_models
    (OP-09): write it into a binary column, it rides parquet like data."""
    import pickle

    return pickle.dumps({"kind": "logreg", "w": list(w), "bias": float(bias)})


def load_model(blob: bytes) -> tuple[list[float], float]:
    import pickle

    m = pickle.loads(blob)
    if m.get("kind") != "logreg":
        raise ValueError(f"not a logreg artifact: {m.get('kind')!r}")
    return list(m["w"]), float(m["bias"])
