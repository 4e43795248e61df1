"""The in-engine logistic-regression quality classifier
(operators/classifier.py) vs a pure-numpy twin — the same differential
pattern as the k-means and BPE trainers."""

from __future__ import annotations

import numpy as np

from stock_market_big_data_project_spark.operators.classifier import (
    N_DIMS,
    hashed_dense_features,
    predict_proba,
    reference_logreg,
    train_logreg,
)
from stock_market_big_data_project_spark.operators.text import quality_score
from stock_market_big_data_project_spark.sources.tables import load_table

from pyspark.sql import functions as F

from .conftest import SF_DIR


def _featurized(spark):
    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        "text",
        (quality_score(F.col("text")) >= 0.9).cast("int").alias("label"),
    )
    feats = hashed_dense_features(d).join(d.select("doc_id", "label"), "doc_id")
    return feats


def test_logreg_matches_numpy(spark):
    feats = _featurized(spark)
    w, b, losses = train_logreg(feats, n_iter=10)

    rows = feats.select("doc_id", "features", "label").collect()
    rows.sort(key=lambda r: r["doc_id"])
    X = np.array([list(r["features"]) for r in rows])
    y = np.array([float(r["label"]) for r in rows])
    w_ref, b_ref, losses_ref = reference_logreg(X, y)

    # float sums run in engine-dependent order; tolerance, not bitwise
    assert np.allclose(w, w_ref, atol=1e-7)
    assert abs(b - b_ref) < 1e-7
    assert np.allclose(losses, losses_ref, atol=1e-7)
    # training must actually make progress and never diverge
    assert losses[-1] < losses[0]
    assert all(l2 <= l1 + 1e-12 for l1, l2 in zip(losses, losses[1:]))


def test_predictions_agree_and_beat_chance(spark):
    feats = _featurized(spark)
    w, b, _ = train_logreg(feats, lr=4.0, n_iter=40)

    scored = feats.select(
        "doc_id", "label", predict_proba(feats, w, b).alias("p")
    ).collect()
    rows = sorted(scored, key=lambda r: r["doc_id"])
    X_rows = feats.select("doc_id", "features").collect()
    X_rows.sort(key=lambda r: r["doc_id"])
    X = np.array([list(r["features"]) for r in X_rows])
    p_ref = 1.0 / (1.0 + np.exp(-(X @ np.array(w) + b)))

    p_spark = np.array([r["p"] for r in rows])
    assert np.allclose(p_spark, p_ref, atol=1e-9)

    y = np.array([r["label"] for r in rows])
    acc = float(((p_spark >= 0.5).astype(int) == y).mean())
    base = max(y.mean(), 1 - y.mean())
    # the linear model must recover the weak-label rule better than the
    # majority-class baseline (the label derives from token stats the
    # hashed features carry)
    assert acc > base


def test_feature_vectors_are_l1_of_token_hash(spark):
    feats = _featurized(spark).limit(5).collect()
    for r in feats:
        v = np.array(r["features"])
        assert v.shape == (N_DIMS,)
        assert np.isfinite(v).all()


def test_model_blob_roundtrip_through_parquet(spark, tmp_path):
    from stock_market_big_data_project_spark.operators.classifier import (
        load_model,
        model_blob,
    )

    feats = _featurized(spark)
    w, b, _ = train_logreg(feats, n_iter=5)

    path = str(tmp_path / "model")
    spark.createDataFrame(
        [("quality_v1", bytearray(model_blob(w, b)))],
        "name string, model binary",
    ).write.mode("overwrite").parquet(path)
    blob = spark.read.parquet(path).first()["model"]
    w2, b2 = load_model(bytes(blob))
    assert w2 == list(w) and b2 == b

    # reloaded weights score identically
    a = feats.select("doc_id", predict_proba(feats, w, b).alias("p"))
    c = feats.select("doc_id", predict_proba(feats, w2, b2).alias("p"))
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0
