"""Hypothesis property tests for the round-6 text operators — random
corpora with small alphabets (to force shared grams) checked against
pure-Python references."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stock_market_big_data_project_spark.operators.text import (
    context_windows,
    duplicated_spans,
)

SETTINGS = settings(
    max_examples=int(os.environ.get("HYP_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# documents over a 6-word alphabet, 0..60 tokens — collisions guaranteed
docs_st = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


def _reference_windows(toks, size, stride):
    n = len(toks)
    out = {}
    w = 0
    while w * stride < n:
        lo = w * stride
        hi = min(lo + size, n)
        out[w] = (lo + 1, hi - lo, " ".join(toks[lo:hi]))
        w += 1
    return out


def _reference_spans(docs, k):
    from collections import Counter

    grams = []  # (doc, pos, gram)
    for did, toks in docs:
        for p in range(len(toks) - k + 1):
            grams.append((did, p + 1, " ".join(toks[p : p + k])))
    freq = Counter(g for _, _, g in grams)
    spans = {}
    for did, toks in docs:
        dup = sorted(
            p for d, p, g in grams if d == did and freq[g] > 1
        )
        runs = []
        for p in dup:
            if runs and p - runs[-1][-1] <= k:
                runs[-1].append(p)
            else:
                runs.append([p])
        spans[did] = sorted(
            (r[0], r[-1] + k - 1, len(r)) for r in runs
        )
    return spans


@given(docs=docs_st, size=st.integers(4, 16), stride=st.integers(2, 12))
@SETTINGS
def test_context_windows_match_reference(spark, docs, size, stride):
    stride = min(stride, size)  # stride > size would skip tokens
    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in context_windows(df, size, stride).collect():
        got.setdefault(r["doc_id"], {})[r["window_id"]] = (
            r["win_start"],
            r["n_win_tokens"],
            r["window_text"],
        )
    for i, toks in enumerate(docs):
        want = _reference_windows(toks, size, stride)
        assert got.get(i, {}) == want, (i, toks)


@given(docs=docs_st, k=st.integers(2, 6))
@SETTINGS
def test_duplicated_spans_match_reference(spark, docs, k):
    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in duplicated_spans(df, k).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_grams"])
        )
    want = _reference_spans(list(enumerate(docs)), k)
    for did, spans in want.items():
        assert sorted(got.get(did, [])) == spans, (did, docs[did])


def test_context_windows_rejects_gap_strides(spark):
    # stride > size leaves coverage gaps; positions inside a gap would be
    # fanned into DESCENDING F.sequence ranges of windows that do not
    # contain them. The operator must refuse loudly, not corrupt output.
    import pytest

    df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        context_windows(df, size=4, stride=5)
    with pytest.raises(ValueError):
        context_windows(df, size=0, stride=1)
