"""Round-7 retrieval/scoring operators: pure-Python differentials for
BM25 and the hashed-LM perplexity scorer (independent of BOTH engines —
the DuckDB oracle is the cross-engine check; these recompute the math
from the parquet bytes with Python Decimal), planted-corpus behavioral
checks, temperature-mix numerics, and the BPE-encode fingerprint
differential against test_bpe's subword-nmt reference segmenter."""

from __future__ import annotations

import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest

from stock_market_big_data_project_spark.plans import (
    get_query,
    LOCAL_QUERIES,
    load_all_plans,
)

from .conftest import SF_DIR
from .test_bpe import _ref_segment, _ref_train

load_all_plans()

_K1, _B, _TOPK = 1.2, 0.75, 5
_PPL_B = 256


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.strip()) if t != ""]


def _round_dec(x: float, places: int) -> Decimal:
    """Spark's double→decimal rounding: shortest-repr + HALF_UP (see the
    verify-skill note; matches F.round and DuckDB round on doubles)."""
    return Decimal(repr(x)).quantize(Decimal(f"1e-{places}"), ROUND_HALF_UP)


def _docs_pdf(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))


def test_bm25_matches_pure_python(spark):
    d = _docs_pdf(SF_DIR)
    toks = {r.doc_id: _toks(r.text) for r in d.itertuples()}
    n_docs = len(d)
    sum_dl = sum(len(t) for t in toks.values())
    avgdl = sum_dl / n_docs
    # query set: first 3 tokens of docs with doc_id % 25 == 1, <= 500
    queries = {
        did: set(t[:3])
        for did, t in toks.items()
        if did % 25 == 1 and did <= 500
    }
    assert queries, "fixture must yield at least one query"
    # df per query token over the whole corpus
    qtoks = set().union(*queries.values())
    df = {
        qt: sum(1 for t in toks.values() if qt in t) for qt in qtoks
    }
    rows = []
    for qid, qset in queries.items():
        scores: dict[int, Decimal] = {}
        for did, t in toks.items():
            s = Decimal(0)
            tf_counts = {qt: t.count(qt) for qt in qset}
            for qt, tf in tf_counts.items():
                if tf == 0:
                    continue
                idf = math.log(
                    1 + (n_docs - df[qt] + 0.5) / (df[qt] + 0.5)
                )
                term = (
                    idf
                    * (tf * (_K1 + 1))
                    / (tf + _K1 * (1 - _B + _B * len(t) / avgdl))
                )
                s += _round_dec(term, 12)
            if s != 0 or any(tf_counts.values()):
                scores[did] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (did, s) in enumerate(ranked[:_TOPK], start=1):
            rows.append((qid, rank, did, float(_round_dec(float(s), 9))))
    expected = pd.DataFrame(
        rows, columns=["query_id", "rank", "doc_id", "bm25"]
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)
    got = (
        get_query("bm25_retrieval_topk")(spark, SF_DIR)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
        .astype({"query_id": "int64", "rank": "int64", "doc_id": "int64"})
    )
    expected = expected.astype(
        {"query_id": "int64", "rank": "int64", "doc_id": "int64"}
    )
    pd.testing.assert_frame_equal(got, expected, check_exact=True)


def _md5_bucket(tok: str) -> int:
    h = hashlib.md5(("ppl:" + tok).encode()).hexdigest()
    return int(h[:15], 16) % _PPL_B


def test_perplexity_matches_pure_python(spark):
    d = _docs_pdf(SF_DIR)
    buckets = {
        r.doc_id: [_md5_bucket(t) for t in _toks(r.text)]
        for r in d.itertuples()
    }
    lang = {r.doc_id: r.lang for r in d.itertuples()}
    c_t: dict[int, int] = {}
    n_t = 0
    for did, bs in buckets.items():
        if lang[did] == "en":
            n_t += len(bs)
            for b in bs:
                c_t[b] = c_t.get(b, 0) + 1
    # lnp only for buckets PRESENT in the corpus (the lm table derives
    # from nb, so absent buckets have no row — matching the query)
    present = set().union(*(set(bs) for bs in buckets.values()))
    lnp = {
        b: _round_dec(math.log((c_t.get(b, 0) + 1) / (n_t + _PPL_B)), 12)
        for b in present
    }
    scores = {}
    for did, bs in buckets.items():
        if not bs:
            continue
        s = sum((lnp[b] for b in bs), Decimal(0))
        nll = -float(s) / len(bs)
        scores[did] = (len(bs), float(_round_dec(nll, 9)))
    # data-derived cutoffs: exact 33rd/67th percentiles of the rounded
    # scores — smallest value whose ascending cumulative count reaches
    # ceil(p·N/100) == the ceil(p·N/100)-th order statistic
    vals = sorted(v for (_n, v) in scores.values())
    n_docs = len(vals)
    th1 = vals[(33 * n_docs + 99) // 100 - 1]
    th2 = vals[(67 * n_docs + 99) // 100 - 1]
    rows = []
    for did, (ntk, nll) in scores.items():
        bucket = "head" if nll <= th1 else "middle" if nll <= th2 else "tail"
        rows.append((did, ntk, nll, bucket, th1, th2))
    expected = pd.DataFrame(
        rows,
        columns=[
            "doc_id", "n_toks", "avg_nll", "ppl_bucket",
            "theta_head", "theta_middle",
        ],
    ).sort_values("doc_id").reset_index(drop=True)
    got = (
        get_query("perplexity_quality_buckets")(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype({"doc_id": "int64", "n_toks": "int64"})
    )
    expected = expected.astype({"doc_id": "int64", "n_toks": "int64"})
    pd.testing.assert_frame_equal(got, expected, check_exact=True)


@pytest.fixture(scope="module")
def planted_sf_dir(tmp_path_factory, spark):
    """Corpus where BM25 and perplexity behavior is hand-checkable:
    doc 26 is the ONLY query source (query = 'needle common filler'; no
    other doc_id ≡ 1 mod 25). Docs 100/104 carry identical query-term
    counts at different lengths (the length-normalization probe), doc
    102 shares only common terms, doc 103 is gibberish (singleton
    tokens) for the perplexity tail."""
    pad = " ".join(f"pad{i}" for i in range(20))
    rows = [
        (26, "needle common filler", "en", "web", 20),
        (100, "needle common filler pad0", "en", "web", 25),
        (104, "needle common filler " + pad, "en", "web", 160),
        (102, "common filler common filler common filler", "en", "web", 41),
        (103, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8", "en", "web", 31),
    ]
    d = str(tmp_path_factory.mktemp("planted_retrieval"))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_bm25_planted_ranking(spark, planted_sf_dir):
    got = (
        get_query("bm25_retrieval_topk")(spark, planted_sf_dir)
        .toPandas()
        .sort_values("rank")
    )
    assert (got["query_id"] == 26).all()
    order = got["doc_id"].tolist()
    # length normalization: identical query-term counts, shorter doc
    # wins (26 < 100 < 104); the gibberish doc never matches.
    assert order.index(26) < order.index(100) < order.index(104)
    assert 103 not in order


def test_perplexity_planted_tail(spark, planted_sf_dir):
    got = (
        get_query("perplexity_quality_buckets")(spark, planted_sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    # singleton gibberish tokens → rarest buckets → highest avg_nll
    assert got.loc[103, "avg_nll"] == got["avg_nll"].max()
    assert got.loc[103, "ppl_bucket"] == "tail"
    # the common-token doc sits at the low end
    assert got.loc[102, "avg_nll"] == got["avg_nll"].min()


def test_temperature_mix_numerics(spark):
    got = (
        get_query("temperature_sampling_mix")(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    d = _docs_pdf(SF_DIR)
    n = {
        src: sum(len(_toks(t)) for t in grp["text"])
        for src, grp in d.groupby("source")
    }
    tot_pw = sum(v**0.3 for v in n.values())
    total = sum(n.values())
    budget = 19 * total // 20
    for r in got.itertuples():
        w = n[r.source] ** 0.3 / tot_pw
        assert r.n_tokens == n[r.source]
        assert abs(r.weight - w) < 1e-9
        assert r.alloc_tokens == math.floor(
            float(_round_dec(budget * w, 3))
        )
        assert abs(r.epochs - budget * w / n[r.source]) < 1e-6
    # temperature sampling oversamples small sources: epochs decreases
    # as source size increases (strictly, for distinct sizes)
    by_size = got.sort_values("n_tokens")
    ep = by_size["epochs"].tolist()
    sizes = by_size["n_tokens"].tolist()
    for i in range(len(ep) - 1):
        if sizes[i] < sizes[i + 1]:
            assert ep[i] > ep[i + 1]
    assert abs(got["weight"].sum() - 1.0) < 1e-6


def test_bpe_apply_encode_fingerprints(spark):
    got = (
        get_query("bpe_apply_encode")(spark, SF_DIR)
        .toPandas()
        .set_index("doc_id")
    )
    d = _docs_pdf(SF_DIR)
    counts: dict[str, int] = {}
    doc_words: dict[int, list[str]] = {}
    for r in d.itertuples():
        ws = _toks(r.text)
        doc_words[r.doc_id] = ws
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    merges = _ref_train(counts, 12)
    seg_cache: dict[str, list[str]] = {}
    for did, ws in doc_words.items():
        parts: list[str] = []
        for w in ws:
            if w not in seg_cache:
                seg_cache[w] = _ref_segment(w, merges)
            parts.extend(seg_cache[w])
        md5 = hashlib.md5(" ".join(parts).encode()).hexdigest()
        assert got.loc[did, "n_words"] == len(ws), did
        assert got.loc[did, "n_subword_tokens"] == len(parts), did
        assert got.loc[did, "encoding_md5"] == md5, did
    assert len(got) == len(doc_words)


# --- hybrid RRF fusion ------------------------------------------------------------


def test_rrf_fusion_matches_pure_python(spark):
    """Recompute the fusion from the two collected top-10 input lists —
    checks the RRF arithmetic and ranking independent of the SQL oracle
    (the two legs themselves are covered by their own differentials)."""
    from stock_market_big_data_project_spark.operators.similarity import (
        cosine_topk,
    )
    from stock_market_big_data_project_spark.plans.retrieval import (
        _bm25_ranked,
    )
    from stock_market_big_data_project_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    bm = {
        (r.query_id, r.doc_id): r["rank"]
        for r in _bm25_ranked(spark, SF_DIR, 10).collect()
    }
    emb = load_table(spark, SF_DIR, "embeddings")
    qv = emb.filter((F.col("vec_id") % 25 == 1) & (F.col("vec_id") <= 500))
    cos = {
        (r.query_id, r.neighbor_id): r["rank"]
        for r in cosine_topk(emb, qv, k=10).collect()
    }
    # pure-Python fusion
    scores: dict = {}
    for (q, doc), r in bm.items():
        scores[(q, doc)] = scores.get((q, doc), 0.0) + 1.0 / (60 + r)
    for (q, doc), r in cos.items():
        scores[(q, doc)] = scores.get((q, doc), 0.0) + 1.0 / (60 + r)
    expected = {}
    for q in {k[0] for k in scores}:
        docs = sorted(
            (d for (qq, d) in scores if qq == q),
            key=lambda d: (-scores[(q, d)], d),
        )
        for i, d in enumerate(docs[:5], start=1):
            expected[(q, i)] = (d, scores[(q, d)])
    got = get_query("hybrid_rrf_retrieval")(spark, SF_DIR).collect()
    assert len(got) == len(expected)
    for r in got:
        doc, s = expected[(r.query_id, r.fused_rank)]
        assert r.doc_id == doc
        assert float(r.rrf_score) == float(_round_dec(s, 9))
        # provenance ranks round-trip
        assert (r.bm25_rank is None) == ((r.query_id, r.doc_id) not in bm)
        if r.bm25_rank is not None:
            assert r.bm25_rank == bm[(r.query_id, r.doc_id)]
        if r.cos_rank is not None:
            assert r.cos_rank == cos[(r.query_id, r.doc_id)]


def test_rrf_doc_in_both_lists_beats_single_list_peer(spark):
    """A doc ranked 1st in BOTH legs must outrank any doc appearing in
    only one leg: 1/61+1/61 > 1/(60+r) for every r ≥ 1."""
    rows = get_query("hybrid_rrf_retrieval")(spark, SF_DIR).collect()
    for r in rows:
        if r.bm25_rank == 1 and r.cos_rank == 1:
            assert r.fused_rank == 1


# --- tokenizer fertility --------------------------------------------------------------


def test_fertility_matches_reference_segmenters(spark):
    """Recompute all three fertility rows from the pure-Python reference
    segmenters (test_bpe's subword-nmt reference; the unigram Viterbi)."""
    from stock_market_big_data_project_spark.operators.unigram import (
        train_unigram,
        viterbi_segment,
    )

    d = _docs_pdf(SF_DIR)
    wc: dict[str, int] = {}
    for text in d["text"]:
        for w in _toks(text):
            wc[w] = wc.get(w, 0) + 1
    n_words = sum(wc.values())

    from stock_market_big_data_project_spark.sources.tables import load_table

    sdf = load_table(spark, SF_DIR, "documents")
    merges = _ref_train(wc, 12)
    bpe_units = sum(n * len(_ref_segment(w, merges)) for w, n in wc.items())
    logp, _ = train_unigram(sdf, seed_size=60, vocab_size=48, n_iters=3)
    uni_units = sum(n * len(viterbi_segment(w, logp)) for w, n in wc.items())

    got = {
        r.tokenizer: r
        for r in LOCAL_QUERIES["tokenizer_fertility_compare"](
            spark, SF_DIR
        ).collect()
    }
    assert got["whitespace"].n_words == n_words
    assert got["whitespace"].n_units == n_words
    assert got["bpe_12"].n_units == bpe_units
    assert got["unigram_48"].n_units == uni_units
    for r in got.values():
        assert r.n_words == n_words
        assert r.fertility == float(_round_dec(r.n_units / n_words, 6))
    # subword tokenizers split words -> fertility >= 1
    assert got["bpe_12"].fertility >= 1.0
    assert got["unigram_48"].fertility >= 1.0
