"""Property-based pandas-differential tests (SURVEY.md §5.1 / §7 hard-list
#2-3): the operators with the trickiest edge semantics are checked against
the reference's own library — pandas — on randomized small inputs.

hypothesis generates the series (irregular timestamps, gaps, duplicate
hours, null patterns); each example round-trips through Spark and must
match the equivalent pandas program exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stock_market_big_data_project_spark.operators.timegrid import (
    asof_join,
    resample_ffill,
)
from stock_market_big_data_project_spark.operators.windows import pct_change

BASE = pd.Timestamp("2024-01-01")

# strategy: per-key list of (minute-offset, value) observations
series_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=600),
        # clamp tiny magnitudes to exact zero: a subnormal denominator
        # overflows to ±inf in BOTH engines (legal, identical), which would
        # make the zero-division inf→NULL mapping below ambiguous
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ).map(lambda x: 0.0 if abs(x) < 1e-6 else x),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)

# HYP_EXAMPLES=200 for a deep sweep; 12 keeps the default suite fast.
SETTINGS = settings(
    max_examples=int(os.environ.get("HYP_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _spark_df(spark, obs, extra_key=0):
    pdf = pd.DataFrame(
        {
            "k": extra_key,
            "ts": [BASE + pd.Timedelta(minutes=m) for m, _ in obs],
            "v": [v for _, v in obs],
        }
    )
    return spark.createDataFrame(pdf), pdf


@SETTINGS
@given(obs=series_st)
def test_resample_ffill_matches_pandas(spark, obs):
    df, pdf = _spark_df(spark, obs)
    got = (
        resample_ffill(df, "k", ["v"])
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    want = (
        pdf.set_index("ts")["v"]
        .resample("1h")
        .last()  # positionally-last obs per hour (ts-ordered)
        .ffill()
        .dropna()
        .reset_index()
    )
    assert got["ts"].tolist() == want["ts"].tolist()
    np.testing.assert_allclose(got["v"].to_numpy(), want["v"].to_numpy(), rtol=0, atol=0)


@SETTINGS
@given(obs=series_st)
def test_pct_change_matches_pandas(spark, obs):
    df, pdf = _spark_df(spark, obs)
    got = (
        pct_change(df, "k", "ts", "v", out="ret")
        .toPandas()
        .sort_values("ts")["ret"]
        .to_numpy()
    )
    want = pdf.sort_values("ts")["v"].pct_change().to_numpy()
    # pandas yields ±inf on zero denominators, try_divide yields NULL; the
    # engine's contract (and the oracle's) is NULL — map inf to nan
    want[np.isinf(want)] = np.nan
    np.testing.assert_allclose(got, want, rtol=1e-12, equal_nan=True)


@SETTINGS
@given(left_obs=series_st, right_obs=series_st)
def test_asof_join_matches_merge_asof(spark, left_obs, right_obs):
    ldf, lpdf = _spark_df(spark, left_obs)
    rdf, rpdf = _spark_df(spark, right_obs)
    rdf = rdf.withColumnRenamed("v", "rv")
    got = (
        asof_join(ldf, rdf, "k", ["rv"])
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpdf.sort_values("ts"),
        rpdf.sort_values("ts").rename(columns={"v": "rv"}),
        on="ts",
        by="k",
        direction="backward",
    ).reset_index(drop=True)
    assert got["ts"].tolist() == want["ts"].tolist()
    np.testing.assert_allclose(
        got["rv"].to_numpy(), want["rv"].to_numpy(), rtol=0, atol=0, equal_nan=True
    )


def test_resample_ffill_single_col_null_obs(spark):
    # A NULL observed value must fill from the previous non-null hour even
    # with a single value column (the ffill window applies unconditionally).
    pdf = pd.DataFrame(
        {
            "k": 0,
            "ts": [BASE, BASE + pd.Timedelta(hours=2)],
            "v": [5.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        resample_ffill(df, "k", ["v"])
        .toPandas()
        .sort_values("ts")["v"] .tolist()
    )
    assert got == [5.0, 5.0, 5.0]


@pytest.mark.parametrize("how", ["empty_right"])
def test_asof_join_empty_right(spark, how):
    ldf, _ = _spark_df(spark, [(0, 1.0), (60, 2.0)])
    rdf = spark.createDataFrame([], "k bigint, ts timestamp, rv double")
    got = asof_join(ldf, rdf, "k", ["rv"]).toPandas()
    assert len(got) == 2
    assert got["rv"].isna().all()


# --- merge_upsert vs a pandas model ------------------------------------------

# (key, minute-offset, value, tombstone) rows for both snapshot and delta;
# duplicate (key, ts) pairs across and within sides exercise the tie rules.
merge_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # key
        st.integers(min_value=0, max_value=30),       # minute offset
        st.floats(min_value=-10, max_value=10, allow_nan=False),
        st.booleans(),                                # tombstone
    ),
    min_size=0,
    max_size=15,
)


@SETTINGS
@given(base_rows=merge_rows_st, upd_rows=merge_rows_st)
def test_merge_upsert_matches_pandas_model(spark, base_rows, upd_rows):
    from stock_market_big_data_project_spark.operators.merge import merge_upsert

    def pdf(rows, src):
        return pd.DataFrame(
            {
                "k": [r[0] for r in rows],
                "ts": [BASE + pd.Timedelta(minutes=r[1]) for r in rows],
                "v": [r[2] for r in rows],
                "tomb": [r[3] for r in rows],
                "rid": [src * 1000 + i for i in range(len(rows))],
                "_src": src,
            }
        )

    base_pd, upd_pd = pdf(base_rows, 0), pdf(upd_rows, 1)
    cols = ["k", "ts", "v", "tomb", "rid"]
    schema = "k long, ts timestamp, v double, tomb boolean, rid long"
    got = {
        (r["k"], r["rid"])
        for r in merge_upsert(
            spark.createDataFrame(base_pd[cols], schema=schema),
            spark.createDataFrame(upd_pd[cols], schema=schema),
            keys=["k"],
            delete_col="tomb",
            tiebreak=["rid"],
        ).collect()
    }

    allrows = pd.concat([base_pd, upd_pd])
    want = set()
    if len(allrows):
        winners = (
            allrows.sort_values(["ts", "_src", "rid"])
            .groupby("k", as_index=False)
            .last()
        )
        want = {
            (r.k, r.rid) for r in winners.itertuples() if not r.tomb
        }
    assert got == want
