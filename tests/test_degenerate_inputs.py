"""Degenerate-input robustness: NULL text, empty strings, and empty
tables through the text/dedup/packing operator family. The fixtures
never produce these, but a real crawl does — the contract is "no crash,
sane values", not a particular result."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_banded,
    minhash_signatures,
)
from stock_market_big_data_project_spark.operators.packing import (
    pack_sequences_ffd,
)
from stock_market_big_data_project_spark.operators.text import (
    repetition_stats,
    tokens,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "only real doc here"),
        ],
        "doc_id long, text string",
    )


def test_tokens_on_null_and_blank(spark):
    got = {
        r.doc_id: r.n
        for r in _docs(spark)
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    # size(NULL array) is -1 (legacy) or NULL (ANSI) — never a crash;
    # blank strings tokenize to zero
    assert got[1] in (-1, 0, None) and got[2] == 0 and got[3] == 0
    assert got[4] == 4


def test_repetition_stats_skips_tokenless_docs(spark):
    got = {r.doc_id: r for r in repetition_stats(_docs(spark)).collect()}
    # tokenless docs contribute no gram rows → absent, not crashed
    assert set(got) == {4}
    assert got[4].n_tokens == 4


def test_minhash_chain_on_sparse_corpus(spark):
    # doc 4 has 4 tokens → 3-shingles exist; the rest contribute nothing
    sig = minhash_signatures(_docs(spark), n=3, k=16)
    banded = minhash_banded(sig, bands=4, rows=4)
    pairs = lsh_candidate_pairs(sig, bands=4, rows=4).collect()
    assert pairs == []  # a single signed doc can't pair with itself
    assert banded.filter(F.col("doc_id") != 4).count() == 0


def test_exact_dedup_handles_null_text(spark):
    out = exact_dedup_groups(_docs(spark)).collect()
    # md5(NULL) is NULL → the NULL-text doc forms its own group; blank
    # and whitespace texts hash distinctly; nothing crashes
    groups = {r.text_md5: (r.kept_id, r.n_copies) for r in out}
    assert len(groups) == 4
    assert groups[None][0] == 1


def test_ffd_packing_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences_ffd(df, capacity=64).count() == 0


# --- round-6 operators --------------------------------------------------------------


def test_context_windows_short_and_degenerate_docs(spark):
    from stock_market_big_data_project_spark.operators.text import (
        context_windows,
    )

    d = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one"),
            (4, " ".join(f"t{i}" for i in range(100))),
        ],
        "doc_id long, text string",
    )
    rows = context_windows(d, size=32, stride=24).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # NULL/empty/blank docs produce no windows, never a crash
    assert 1 not in by_doc and 2 not in by_doc
    # a doc shorter than one window yields exactly one window
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_win_tokens"] == 1
    # 100 tokens, size 32, stride 24 -> windows start at 1,25,49,73,97
    w4 = sorted(by_doc[4], key=lambda r: r["window_id"])
    assert [r["win_start"] for r in w4] == [1, 25, 49, 73, 97]
    assert [r["n_win_tokens"] for r in w4] == [32, 32, 32, 28, 4]
    # every token covered exactly ceil(overlap) times in total
    assert sum(r["n_win_tokens"] for r in w4) == 100 + 3 * 8 + 4


def test_duplicated_spans_no_dups_and_exact_copies(spark):
    from stock_market_big_data_project_spark.operators.text import (
        duplicated_spans,
    )

    uniq = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(4)],
        "doc_id long, text string",
    )
    assert duplicated_spans(uniq, k=8).count() == 0

    body = " ".join(f"x{j}" for j in range(20))
    copies = spark.createDataFrame(
        [(1, body), (2, body)], "doc_id long, text string"
    )
    spans = duplicated_spans(copies, k=8).collect()
    # each full copy is one maximal span covering the whole doc
    assert len(spans) == 2
    for r in spans:
        assert (r["span_start"], r["span_end"]) == (1, 20)


def test_classifier_single_class_labels(spark):
    from stock_market_big_data_project_spark.operators.classifier import (
        hashed_dense_features,
        train_logreg,
    )

    d = spark.createDataFrame(
        [(i, f"alpha beta gamma{i}", 1) for i in range(6)],
        "doc_id long, text string, label int",
    )
    feats = hashed_dense_features(d).join(d.select("doc_id", "label"), "doc_id")
    w, b, losses = train_logreg(feats, n_iter=5)
    # all-positive labels: loss decreases toward 0, nothing NaNs
    assert all(x == x for x in w) and b == b
    assert losses[-1] < losses[0]


def test_waterfill_zero_budget_and_zero_sources(spark):
    from stock_market_big_data_project_spark.operators.mixing import (
        unimax_waterfill,
    )

    d = spark.createDataFrame(
        [("a", 10), ("b", 0)], "src string, n_tokens long"
    )
    got = {
        r["src"]: r["alloc"]
        for r in unimax_waterfill(d, "src", 0).collect()
    }
    assert got == {"a": 0, "b": 0}
