"""UniMax waterfill (operators/mixing.py) vs a pure-Python reference
implementation of the iterative algorithm, plus its invariants."""

from __future__ import annotations

import pytest

from stock_market_big_data_project_spark.operators.mixing import (
    unimax_waterfill,
)


def _reference_waterfill(sizes: dict, budget: int, epochs: int = 1) -> dict:
    """The literal iterative waterfill: repeatedly give every remaining
    source its uniform share, settling capped sources first."""
    caps = {k: n * epochs for k, n in sizes.items()}
    alloc = {}
    remaining = budget
    live = sorted(caps, key=lambda k: (caps[k], k))
    while live:
        q, r = divmod(remaining, len(live))
        capped = [k for k in live if caps[k] <= q]
        if not capped:
            # uniform split of what's left; first r (in (cap, key)
            # order) get the extra token
            for j, k in enumerate(live):
                alloc[k] = q + (1 if j < r else 0)
            return alloc
        for k in capped:
            alloc[k] = caps[k]
            remaining -= caps[k]
            live.remove(k)
    return alloc  # every source capped; leftover budget unallocated


CASES = [
    # mixed: small sources capped, large share the rest
    ({"a": 10, "b": 200, "c": 300, "d": 5}, 400, 1),
    # heavy skew
    ({"a": 1, "b": 1, "c": 1000}, 500, 1),
    # all capped (budget exceeds total)
    ({"a": 10, "b": 20}, 1000, 1),
    # none capped, remainder distribution exercised
    ({"a": 100, "b": 100, "c": 100}, 70, 1),
    # epochs > 1 lifts the caps
    ({"a": 10, "b": 200}, 100, 3),
    # single source
    ({"only": 42}, 30, 1),
]


@pytest.mark.parametrize("sizes,budget,epochs", CASES)
def test_waterfill_matches_reference(spark, sizes, budget, epochs):
    df = spark.createDataFrame(
        [(k, n) for k, n in sizes.items()], "src string, n_tokens long"
    )
    got = {
        r["src"]: r["alloc"]
        for r in unimax_waterfill(df, "src", budget, epochs).collect()
    }
    want = _reference_waterfill(sizes, budget, epochs)
    assert got == want
    # invariants: per-source cap respected; exact total
    caps = {k: n * epochs for k, n in sizes.items()}
    assert all(got[k] <= caps[k] for k in sizes)
    assert sum(got.values()) == min(budget, sum(caps.values()))
    # uniformity: uncapped allocations differ by at most 1
    uncapped = [v for k, v in got.items() if v < caps[k]]
    if uncapped:
        assert max(uncapped) - min(uncapped) <= 1


def test_waterfill_partitioning_invariant(spark):
    sizes = {f"s{i}": 50 + 17 * i for i in range(23)}
    df = spark.createDataFrame(
        [(k, n) for k, n in sizes.items()], "src string, n_tokens long"
    )
    base = {
        r["src"]: r["alloc"]
        for r in unimax_waterfill(df, "src", 900).collect()
    }
    for parts in (1, 7):
        got = {
            r["src"]: r["alloc"]
            for r in unimax_waterfill(df.repartition(parts), "src", 900).collect()
        }
        assert got == base


import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_HYP = settings(
    max_examples=int(os.environ.get("HYP_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_sizes_st = st.dictionaries(
    st.integers(min_value=0, max_value=50).map(lambda i: f"s{i}"),
    st.integers(min_value=0, max_value=5_000),
    min_size=1,
    max_size=12,
)


@given(
    sizes=_sizes_st,
    budget=st.integers(min_value=0, max_value=20_000),
    epochs=st.integers(min_value=1, max_value=3),
)
@_HYP
def test_waterfill_matches_reference_random(spark, sizes, budget, epochs):
    df = spark.createDataFrame(
        [(k, n) for k, n in sizes.items()], "src string, n_tokens long"
    )
    got = {
        r["src"]: r["alloc"]
        for r in unimax_waterfill(df, "src", budget, epochs).collect()
    }
    want = _reference_waterfill(sizes, budget, epochs)
    assert got == want
