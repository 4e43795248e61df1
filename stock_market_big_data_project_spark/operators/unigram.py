"""Unigram-LM subword tokenizer training (Kudo 2018 — the SentencePiece
unigram model), the second real tokenizer trainer after operators/bpe.py.

The reference stops at whitespace token counts (twitter/main.py:11-28);
BPE learns merges bottom-up, the unigram LM goes the other way: start
from an over-complete seed vocabulary, fit piece probabilities by EM
over the segmentation lattice, and keep the best pieces. Split of labor
(the BPE/k-means trainer pattern):

- The 100 TB part — tokenize + count words — is ONE map-side-combined
  hash aggregate; everything after runs over the vocabulary-bounded
  word table, never the corpus.
- The E-step is forward-backward over each word's segmentation lattice:
  an Arrow-batched `mapInPandas` pass over the word table with the piece
  table in the task closure (pieces are vocab-bounded — the k-means
  centroid shape). Per-word DP is a fixed-order float computation, so it
  is bit-deterministic regardless of batching.
- Expected counts cross words through ONE decimal aggregate: each
  per-word count is rounded to 12dp and summed as an exact decimal —
  order-independent across partitions (the engine's standard float-
  boundary idiom), so the whole trainer is rerun/layout-invariant.
- The M-step is driver-side over the collected (piece, count) table
  (vocab-bounded, like the k-means centroid update): probabilities and
  log-probs in Python floats, shared verbatim with the pure-Python
  reference in tests/test_unigram.py — the differential is EXACT.

Rows-only by design (iterative float trainer — the k-means/BPE
declaration); the strong checks are the exact pure-Python EM
differential, the monotone corpus log-likelihood, and the Viterbi
segmentation differential.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NEG_INF = float("-inf")
# Longest piece, in characters, the seed vocabulary, the EM and the
# Viterbi segmentation consider.
MAX_PIECE_LEN = 4


def word_counts(df: DataFrame) -> DataFrame:
    """(word, n) — the one corpus-size aggregate of unigram training."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def seed_pieces(
    words: DataFrame, max_piece_len: int = 4, seed_size: int = 60
) -> list[tuple[str, int]]:
    """Over-complete seed vocabulary: every single character (coverage
    guarantee — any word stays segmentable after pruning) plus the
    `seed_size` most frequent multi-char substrings up to
    `max_piece_len`, both weighted by word count. One explode + one
    aggregate over the vocabulary-bounded word table; the collected
    seed is (seed_size + alphabet)-bounded. Deterministic order:
    (count desc, piece asc)."""
    if max_piece_len < 2:
        # sequence(2, 1) would generate a DESCENDING [2, 1] in Spark —
        # no multi-char seeding below length 2
        return sorted(
            (
                (r["piece"], int(r["cnt"]))
                for r in words.select(
                    F.col("n"),
                    F.explode(F.split(F.col("word"), "")).alias("piece"),
                )
                .filter(F.col("piece") != "")
                .groupBy("piece")
                .agg(F.sum("n").alias("cnt"))
                .collect()
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), i ->"
        f" transform(sequence(2, {max_piece_len}), l ->"
        "   CASE WHEN i + l - 1 <= length(word)"
        "        THEN substring(word, i, l) END)))"
    )
    multi = (
        words.select(F.col("n"), F.explode(subs).alias("piece"))
        .filter(F.col("piece").isNotNull())
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "piece")
        .limit(seed_size)
    )
    chars = (
        words.select(
            F.col("n"), F.explode(F.split(F.col("word"), "")).alias("piece")
        )
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )
    out: dict[str, int] = {}
    for r in chars.collect():
        out[r["piece"]] = int(r["cnt"])
    for r in multi.collect():
        out.setdefault(r["piece"], int(r["cnt"]))
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


def _logsumexp2(a: float, b: float) -> float:
    if a == _NEG_INF:
        return b
    if b == _NEG_INF:
        return a
    m = a if a > b else b
    return m + math.log(math.exp(a - m) + math.exp(b - m))


def forward_backward(
    word: str, logp: dict[str, float]
) -> tuple[dict[str, float], float]:
    """Expected piece counts for ONE occurrence of `word` under the
    current unigram LM, plus the word's log marginal likelihood.
    Fixed-order lattice DP (positions ascending, piece length ascending)
    — bit-deterministic."""
    n = len(word)
    alpha = [_NEG_INF] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        for l in range(1, min(MAX_PIECE_LEN, i) + 1):
            piece = word[i - l : i]
            lp = logp.get(piece)
            if lp is not None and alpha[i - l] != _NEG_INF:
                alpha[i] = _logsumexp2(alpha[i], alpha[i - l] + lp)
    z = alpha[n]
    exp_counts: dict[str, float] = {}
    if z == _NEG_INF:  # unsegmentable (cannot happen with char coverage)
        return exp_counts, z
    beta = [_NEG_INF] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        for l in range(1, min(MAX_PIECE_LEN, n - j) + 1):
            piece = word[j : j + l]
            lp = logp.get(piece)
            if lp is not None and beta[j + l] != _NEG_INF:
                beta[j] = _logsumexp2(beta[j], lp + beta[j + l])
    for j in range(n):
        if alpha[j] == _NEG_INF:
            continue
        for l in range(1, min(MAX_PIECE_LEN, n - j) + 1):
            piece = word[j : j + l]
            lp = logp.get(piece)
            if lp is not None and beta[j + l] != _NEG_INF:
                post = math.exp(alpha[j] + lp + beta[j + l] - z)
                exp_counts[piece] = exp_counts.get(piece, 0.0) + post
    return exp_counts, z


def _round12(x: float) -> Decimal:
    """The engine's float→decimal boundary: shortest-repr HALF_UP to
    12dp — matches F.round/DuckDB round, so Python-side and JVM-side
    roundings of the same double agree."""
    return Decimal(repr(x)).quantize(Decimal("1e-12"), ROUND_HALF_UP)


def em_expected_counts(
    words: DataFrame, logp: dict[str, float]
) -> tuple[list[tuple[str, Decimal]], Decimal]:
    """One distributed E-step: Arrow pass over the word table emitting
    per-word expected counts (rounded to 12dp) and per-word log-
    likelihood contributions, aggregated as exact decimals. Returns the
    collected (piece, count) list (vocab-bounded) and the corpus log-
    likelihood Σ n·ln P(word) (12dp-rounded terms — exact sum)."""
    lp = dict(logp)

    def gen(batches):
        # The 12dp quantization happens HERE, on the Python side of the
        # Arrow boundary (emitted as strings, parsed to decimal JVM-side
        # — exact both ways): shipping doubles and rounding with F.round
        # would double-round, and for |values| ≳ 4e3 the 12dp-rounded
        # number is not double-representable, so the JVM round-trip can
        # differ from the pure-Python reference by 1 ulp at the 12th
        # decimal (ADVICE r7 — scale-dependent, passes at sf0.001 only
        # by luck of magnitudes).
        for pdf in batches:
            if pdf.empty:
                continue
            pieces_out, counts_out, ll_out = [], [], []
            for word, n in zip(pdf["word"], pdf["n"]):
                ec, z = forward_backward(word, lp)
                for piece, c in ec.items():
                    pieces_out.append(piece)
                    counts_out.append(str(_round12(c * float(n))))
                    ll_out.append("0")
                pieces_out.append("")  # ll carrier row, piece-less
                counts_out.append("0")
                ll_out.append(str(_round12(z * float(n))))
            yield pd.DataFrame(
                {"piece": pieces_out, "c": counts_out, "ll": ll_out}
            )

    raw = words.mapInPandas(gen, schema="piece string, c string, ll string")
    agg = raw.groupBy("piece").agg(
        F.sum(F.col("c").cast("decimal(28,12)")).alias("c"),
        F.sum(F.col("ll").cast("decimal(28,12)")).alias("ll"),
    )
    rows = agg.collect()
    counts = [
        (r["piece"], Decimal(r["c"])) for r in rows if r["piece"] != ""
    ]
    ll = sum((Decimal(r["ll"]) for r in rows), Decimal(0))
    counts.sort(key=lambda kv: kv[0])
    return counts, ll


def m_step(
    counts: list[tuple[str, Decimal]],
    alphabet: set[str],
) -> dict[str, float]:
    """Driver-side M-step: p(piece) = count/total, pieces with zero
    expected count dropped UNLESS single-char (coverage guarantee —
    they keep an epsilon count of 1e-12 so every word stays
    segmentable). Pure Python floats, shared with the test reference."""
    kept: list[tuple[str, Decimal]] = []
    eps = Decimal("1e-12")
    have = {p for p, _ in counts}
    for piece, c in counts:
        if c > 0:
            kept.append((piece, c))
        elif len(piece) == 1:
            kept.append((piece, eps))
    for ch in sorted(alphabet - have):
        kept.append((ch, eps))
    total = sum((c for _, c in kept), Decimal(0))
    return {
        piece: math.log(float(c) / float(total)) for piece, c in kept
    }


def train_unigram(
    df: DataFrame,
    seed_size: int = 60,
    vocab_size: int = 48,
    n_iters: int = 4,
    words: DataFrame | None = None,
) -> tuple[dict[str, float], list[Decimal]]:
    """Full unigram-LM training: seed → `n_iters` EM rounds → prune to
    `vocab_size` pieces (single chars always kept) → one final EM round
    to refit the pruned vocabulary. Returns (piece → logp, corpus
    log-likelihood per EM round — monotone non-decreasing over the
    pre-prune rounds, the classic EM guarantee asserted in tests).

    ``words`` lets a caller that ALSO needs the word table (the
    registered segmentation queries) stage `word_counts` once and share
    it — otherwise the trainer would rebuild the one corpus-sized
    aggregate the caller already paid for."""
    if words is None:
        words = word_counts(df).localCheckpoint(eager=True)
    seed = seed_pieces(words, MAX_PIECE_LEN, seed_size)
    alphabet = {p for p, _ in seed if len(p) == 1}
    total = sum(c for _, c in seed)
    logp = {p: math.log(c / total) for p, c in seed}
    lls: list[Decimal] = []
    for _ in range(n_iters):
        counts, ll = em_expected_counts(words, logp)
        logp = m_step(counts, alphabet)
        lls.append(ll)
    # prune: keep all single chars + the best multi-char pieces by
    # expected count (count desc, piece asc — deterministic)
    counts, _ = em_expected_counts(words, logp)
    chars = [(p, c) for p, c in counts if len(p) == 1]
    multi = sorted(
        ((p, c) for p, c in counts if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    n_multi = max(0, vocab_size - len(alphabet))
    pruned = chars + multi[:n_multi]
    logp = m_step(pruned, alphabet)
    counts, ll = em_expected_counts(words, logp)
    logp = m_step(counts, alphabet)
    lls.append(ll)
    return logp, lls


def viterbi_segment(word: str, logp: dict[str, float]) -> list[str]:
    """Best segmentation under the unigram LM. Deterministic tie-break:
    higher score wins; on an exact float tie, FEWER pieces, then the
    lexicographically smaller piece at the split. Fixed-order DP —
    bit-deterministic."""
    n = len(word)
    best: list[tuple[float, int, str | None]] = [
        (_NEG_INF, 0, None)
    ] * (n + 1)
    best[0] = (0.0, 0, None)
    for i in range(1, n + 1):
        cand: tuple[float, int, str | None] = (_NEG_INF, 0, None)
        for l in range(1, min(MAX_PIECE_LEN, i) + 1):
            piece = word[i - l : i]
            lp = logp.get(piece)
            if lp is None or best[i - l][0] == _NEG_INF:
                continue
            score = best[i - l][0] + lp
            npieces = best[i - l][1] + 1
            if (
                cand[2] is None
                or (score, -npieces) > (cand[0], -cand[1])
                or ((score, npieces) == (cand[0], cand[1]) and piece < cand[2])
            ):
                cand = (score, npieces, piece)
        best[i] = cand
    if best[n][2] is None:
        return [word]  # unsegmentable fallback (full-coverage vocab: unreachable)
    out: list[str] = []
    i = n
    while i > 0:
        piece = best[i][2]
        assert piece is not None
        out.append(piece)
        i -= len(piece)
    return list(reversed(out))


def unigram_segment_words(words: DataFrame, logp: dict[str, float]) -> DataFrame:
    """(word, pieces array, n_pieces): Viterbi segmentation of the
    DISTINCT word table — one Arrow pass with the vocab in the closure;
    per-doc assembly joins this vocabulary-bounded table back onto the
    positioned word stream (the bpe_apply_encode shape)."""
    lp = dict(logp)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            segs = [viterbi_segment(w, lp) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "pieces": segs,
                    "n_pieces": [len(s) for s in segs],
                }
            )

    return words.select("word").distinct().mapInPandas(
        gen, schema="word string, pieces array<string>, n_pieces int"
    )
