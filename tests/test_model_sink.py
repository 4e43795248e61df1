"""OP-09 — model binary sink: fit per-symbol models, persist as a parquet
table with a binary column, reload and predict (analysis_part/main.py:39-48
re-expressed as a model-registry table)."""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.stats import (
    fit_models,
    predict_from_blob,
    recursive_forecast,
)
from stock_market_big_data_project_spark.sources.tables import load_table


def test_model_sink_roundtrip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    series = ev.select(
        F.col("user_id").alias("symbol"), F.col("ts"), F.col("value")
    )
    models = fit_models(series)
    path = str(tmp_path / "models")
    models.write.mode("overwrite").parquet(path)

    back = spark.read.parquet(path)
    rows = back.collect()
    assert len(rows) > 0
    assert back.schema["model"].dataType.simpleString() == "binary"

    # reload one artifact and predict — finite, deterministic
    r = sorted(rows, key=lambda r: r.symbol)[0]
    window = np.linspace(90.0, 110.0, 24)
    p1 = predict_from_blob(bytes(r.model), window)
    p2 = predict_from_blob(bytes(r.model), window)
    assert np.isfinite(p1) and p1 == p2
    assert np.isfinite(r.rmse)

    # the sink and the forecaster pack each series the same way: a
    # reloaded artifact, fed the symbol's last 24 values (most recent
    # first), reproduces the forecaster's step-1 prediction bitwise
    step1 = (
        recursive_forecast(series, "ts", horizon=1)
        .toPandas()
        .set_index("symbol")["forecast_c"]
    )
    # the operators sort whole (ts, value) structs — sort by both
    raw = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(["ts", "value"])
    assert set(step1.index) == {r.symbol for r in rows}
    for r in rows:
        vals = raw.loc[raw["user_id"] == r.symbol, "value"].to_numpy()
        window = np.ascontiguousarray(vals[-24:][::-1])
        assert predict_from_blob(bytes(r.model), window) == step1[r.symbol], r.symbol


def test_predict_from_blob_rejects_non_gbt_payload():
    ridge = pickle.dumps({"kind": "ridge", "beta": np.ones(24), "intercept": 0.0})
    with pytest.raises(ValueError, match="GBT"):
        predict_from_blob(ridge, np.linspace(90.0, 110.0, 24))
