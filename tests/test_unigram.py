"""Unigram-LM trainer differentials: an EXACT pure-Python EM reference
(same seed, same 12dp-decimal count aggregation, same M-step floats),
the monotone-likelihood EM guarantee, Viterbi segmentation parity, full
coverage, and partitioning invariance."""

from __future__ import annotations

from decimal import Decimal

from stock_market_big_data_project_spark.operators.unigram import (
    _round12,
    em_expected_counts,
    forward_backward,
    m_step,
    seed_pieces,
    train_unigram,
    unigram_segment_words,
    viterbi_segment,
    word_counts,
)
from stock_market_big_data_project_spark.plans import (
    LOCAL_QUERIES,
    load_all_plans,
)
from stock_market_big_data_project_spark.sources.tables import load_table

from .conftest import SF_DIR

load_all_plans()


def _ref_em_counts(wc: dict[str, int], logp: dict[str, float]):
    """Pure-Python E-step with the identical decimal aggregation: per-word
    expected counts rounded to 12dp, summed exactly."""
    counts: dict[str, Decimal] = {}
    ll = Decimal(0)
    for word, n in wc.items():
        ec, z = forward_backward(word, logp)
        for piece, c in ec.items():
            counts[piece] = counts.get(piece, Decimal(0)) + _round12(
                c * float(n)
            )
        ll += _round12(z * float(n))
    return sorted(counts.items()), ll


def _wc(spark) -> dict[str, int]:
    d = load_table(spark, SF_DIR, "documents")
    return {r.word: r.n for r in word_counts(d).collect()}


def test_em_round_matches_pure_python(spark):
    d = load_table(spark, SF_DIR, "documents")
    wc = _wc(spark)
    seed = seed_pieces(word_counts(d), 4, 60)
    total = sum(c for _, c in seed)
    import math

    logp = {p: math.log(c / total) for p, c in seed}
    got_counts, got_ll = em_expected_counts(word_counts(d), logp)
    ref_counts, ref_ll = _ref_em_counts(wc, logp)
    assert got_ll == ref_ll
    assert got_counts == ref_counts  # EXACT — decimal sums, same rounding


def test_full_training_matches_pure_python(spark):
    d = load_table(spark, SF_DIR, "documents")
    wc = _wc(spark)
    got_logp, got_lls = train_unigram(d, seed_size=60, vocab_size=48, n_iters=3)
    # reference: replay the IDENTICAL schedule in pure Python
    import math

    seed = seed_pieces(word_counts(d), 4, 60)
    alphabet = {p for p, _ in seed if len(p) == 1}
    total = sum(c for _, c in seed)
    logp = {p: math.log(c / total) for p, c in seed}
    lls = []
    for _ in range(3):
        counts, ll = _ref_em_counts(wc, logp)
        logp = m_step(counts, alphabet)
        lls.append(ll)
    counts, _ = _ref_em_counts(wc, logp)
    chars = [(p, c) for p, c in counts if len(p) == 1]
    multi = sorted(
        ((p, c) for p, c in counts if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    pruned = chars + multi[: max(0, 48 - len(alphabet))]
    logp = m_step(pruned, alphabet)
    counts, ll = _ref_em_counts(wc, logp)
    logp = m_step(counts, alphabet)
    lls.append(ll)
    assert got_logp == logp  # bit-exact piece log-probs
    assert got_lls == lls


def test_em_likelihood_monotone(spark):
    d = load_table(spark, SF_DIR, "documents")
    _, lls = train_unigram(d, seed_size=60, vocab_size=48, n_iters=3)
    # the classic EM guarantee over the pre-prune rounds (the last entry
    # is post-prune — a smaller vocabulary may drop likelihood)
    pre = lls[:3]
    assert all(b >= a for a, b in zip(pre, pre[1:])), pre


def test_viterbi_coverage_and_optimality(spark):
    d = load_table(spark, SF_DIR, "documents")
    logp, _ = train_unigram(d, seed_size=60, vocab_size=48, n_iters=3)
    wc = _wc(spark)

    for word in list(wc)[:200]:
        seg = viterbi_segment(word, logp)
        assert "".join(seg) == word  # exact coverage
        assert all(p in logp for p in seg)
        # Viterbi score >= any greedy-longest-first segmentation score
        score = sum(logp[p] for p in seg)
        i, greedy = 0, []
        while i < len(word):
            for l in range(min(4, len(word) - i), 0, -1):
                if word[i : i + l] in logp:
                    greedy.append(word[i : i + l])
                    i += l
                    break
        if greedy and "".join(greedy) == word:
            assert score >= sum(logp[p] for p in greedy) - 1e-12


def test_training_partitioning_invariance(spark):
    d = load_table(spark, SF_DIR, "documents")
    a, _ = train_unigram(d, seed_size=40, vocab_size=40, n_iters=2)
    b, _ = train_unigram(d.repartition(13), seed_size=40, vocab_size=40, n_iters=2)
    assert a == b


def test_registered_query_rollup(spark):
    """Per-doc rollup consistency: piece counts re-derivable from the
    segmented word table."""
    d = load_table(spark, SF_DIR, "documents")
    logp, _ = train_unigram(d, seed_size=60, vocab_size=48, n_iters=3)
    seg = {
        r.word: r.n_pieces
        for r in unigram_segment_words(word_counts(d), logp).collect()
    }
    rows = LOCAL_QUERIES["unigram_lm_segment"](spark, SF_DIR).collect()
    docs = {
        r.doc_id: r.text
        for r in d.select("doc_id", "text").collect()
    }
    import re

    for r in rows[:50]:
        words = [w for w in re.split(r"\s+", docs[r.doc_id].strip()) if w]
        assert r.n_words == len(words)
        assert r.n_subword_pieces == sum(seg[w] for w in words)
