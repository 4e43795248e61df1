"""Degenerate-input robustness for the round-7 second-wave operators:
NULL/blank text through the CMS and KS pipelines, single-vector
covariance (n−1 = 0), near-empty unigram training, empty RRF legs — the
contract is "no crash, sane values"."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.similarity import (
    pca_power_components,
)
from stock_market_big_data_project_spark.operators.text import (
    quality_score,
)
from stock_market_big_data_project_spark.operators.unigram import (
    train_unigram,
    viterbi_segment,
)


def _messy_docs(spark):
    return spark.createDataFrame(
        [
            (1, None, "srcA"),
            (2, "", "srcA"),
            (3, "   ", "srcB"),
            (4, "real words here now", "srcB"),
            (5, "more real words too", "srcA"),
        ],
        "doc_id long, text string, source string",
    )


def test_cms_cells_skip_tokenless_docs(spark):
    from stock_market_big_data_project_spark.plans.llm import (
        _cms_cells,
        _cms_report,
        _cms_token_stream,
    )

    t = _cms_token_stream(_messy_docs(spark))
    cells = _cms_cells(t)
    total = cells.agg(F.sum("c")).collect()[0][0]
    assert total == 8 * 4  # 8 real tokens × 4 hash rows
    rep = {r.tok: r for r in _cms_report(cells, t).collect()}
    assert all(r.overcount >= 0 for r in rep.values())
    assert rep["real"].exact_cnt == 2 and rep["words"].exact_cnt == 2
    assert rep["now"].exact_cnt == 1


def test_ks_drops_tokenless_docs_and_single_source_pairs(spark):
    # quality_score is NULL for NULL/blank text (try_divide) → filtered;
    # srcA/srcB both keep ≥1 scored doc → exactly one pair row
    from stock_market_big_data_project_spark.plans import (
        get_query,
        load_all_plans,
    )

    load_all_plans()
    d = _messy_docs(spark)
    td = f"/tmp/ks_degen_{id(d)}"
    d.withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
    rows = get_query("ks_drift_matrix")(spark, td).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.src_a, r.src_b) == ("srcA", "srcB")
    assert r.n_a == 1 and r.n_b == 1  # only the real docs scored
    assert 0.0 <= r.ks_stat <= 1.0


def test_quality_score_null_on_tokenless(spark):
    got = {
        r.doc_id: r.q
        for r in _messy_docs(spark)
        .select("doc_id", quality_score(F.col("text")).alias("q"))
        .collect()
    }
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] is not None


def test_covariance_single_vector_is_null(spark):
    """n = 1 ⇒ sample covariance undefined: explicit NULL on both
    engines (an unguarded (n−1)=0 division is an ERROR under ANSI mode —
    this test caught exactly that crash)."""
    from stock_market_big_data_project_spark.plans.llm import (
        embedding_covariance,
    )

    one = spark.createDataFrame(
        [(0, [float(i) / 100 for i in range(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    td = f"/tmp/cov_degen_{id(one)}"
    one.write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
    rows = embedding_covariance(spark, td).collect()
    assert len(rows) == 64 * 65 // 2
    for r in rows:
        assert r.n == 1
        assert r.cov is None


def test_pca_components_on_zero_matrix():
    comps = pca_power_components(
        [{"d1": i, "d2": i, "cov": 0.0} for i in range(64)],
        n_components=2,
    )
    # zero covariance: power iteration breaks on the zero vector and
    # returns the (normalized) deterministic init — finite, unit norm
    assert comps.shape == (2, 64)
    assert all(math.isfinite(x) for x in comps.ravel())


def test_unigram_trains_on_tiny_messy_corpus(spark):
    logp, lls = train_unigram(
        _messy_docs(spark), seed_size=10, vocab_size=12, n_iters=2
    )
    assert logp and all(math.isfinite(v) and v < 0 for v in logp.values())
    for word in ("real", "words", "here", "now", "more", "too"):
        seg = viterbi_segment(word, logp)
        assert "".join(seg) == word


def test_viterbi_unknown_char_fallback():
    # a char outside the vocabulary: documented fallback is the whole
    # word as one out-of-vocab piece — no crash, no infinite loop
    assert viterbi_segment("日本", {"a": -1.0}) == ["日本"]


def test_rrf_single_leg_queries(spark):
    """Queries whose doc has no embedding row (or vice versa) still rank
    on the one available leg — the full-outer fusion never drops them."""
    from stock_market_big_data_project_spark.plans import (
        get_query,
        load_all_plans,
    )

    load_all_plans()
    rows = get_query("hybrid_rrf_retrieval")(
        spark, "/root/testdata/sf0.001"
    ).collect()
    single_leg = [
        r for r in rows if (r.bm25_rank is None) != (r.cos_rank is None)
    ]
    # single-leg rows exist in the fixture and carry a valid fused rank
    assert single_leg
    assert all(1 <= r.fused_rank <= 5 for r in single_leg)


def test_pca_project_single_vector_corpus(spark):
    """The n=1 corpus end to end: all-NULL covariance feeds the
    eigensolve (treated as the zero matrix — deterministic init comes
    back), and the projection still runs. Caught in review: the NULL
    cells used to raise TypeError inside the ndarray fill."""
    from stock_market_big_data_project_spark.plans.llm import (
        embedding_pca_project,
    )

    one = spark.createDataFrame(
        [(0, [float(i) / 100 for i in range(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    td = f"/tmp/pca_degen_{id(one)}"
    one.write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
    rows = embedding_pca_project(spark, td).collect()
    assert len(rows) == 1
    assert math.isfinite(rows[0].pc1) and math.isfinite(rows[0].pc2)
    # centered single vector projects to ~0 on every component
    assert abs(rows[0].pc1) < 1e-9 and abs(rows[0].pc2) < 1e-9


def test_seed_pieces_max_len_one(spark):
    """max_piece_len=1 must seed ONLY single characters (review catch:
    Spark's sequence(2, 1) is a descending [2, 1] range)."""
    from stock_market_big_data_project_spark.operators.unigram import (
        seed_pieces,
        word_counts,
    )

    d = spark.createDataFrame(
        [(1, "ab ab ba")], "doc_id long, text string"
    )
    seed = seed_pieces(word_counts(d), max_piece_len=1)
    assert {p for p, _ in seed} == {"a", "b"}


def test_viterbi_tie_breaks_to_smaller_piece():
    """Exact (score, piece-count) tie resolves to the lexicographically
    SMALLER piece at the split — the documented contract."""
    from stock_market_big_data_project_spark.operators.unigram import (
        viterbi_segment,
    )

    logp = {"x": -1.0, "y": -1.0, "xy": -2.0, "yx": -2.0}
    # "xyxy": ['xy','xy'] vs ['x','y','x','y'] differ in count; force a
    # genuine tie: two single-piece options with equal logp
    assert viterbi_segment("x", logp) == ["x"]
    logp2 = {"ab": -2.0, "a": -1.0, "b": -1.0, "ba": -2.0}
    # "ab": ['ab'] (score -2, 1 piece) beats ['a','b'] (score -2, 2)
    assert viterbi_segment("ab", logp2) == ["ab"]
