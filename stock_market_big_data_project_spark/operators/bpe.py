"""Distributed BPE vocabulary training (Sennrich et al. 2016).

The reference counts whitespace tokens and stops there (the tweet surface,
twitter/main.py:11-28 — collected, never analyzed); a training-data
pipeline's next step is learning the subword vocabulary itself. The
classic formulation (subword-nmt's learn_bpe) operates on the AGGREGATED
word-frequency table, and that is exactly the right split for Spark:

- The 100 TB part — tokenize + count words — is ONE map-side-combined
  hash aggregate; its output (the distinct-word table) is bounded by
  vocabulary growth (~millions of rows), not corpus size.
- The iterative part — K merge rounds — runs distributed over that
  word table: each round is one tiny pair-count aggregate (argmax via
  orderBy(1).limit(1) → a 1-row collect, the only driver traffic) and
  one narrow map applying the merge.

Words are represented as space-joined symbol strings with sentinel
spaces (" h e l l o </w> "), so applying a merge is one regexp_replace —
no per-row Python. The boundary spaces are matched with ZERO-WIDTH
lookarounds ("(?<= )pair(?= )"), the same scheme as subword-nmt's
"(?<!\\S)a b(?!\\S)" substitution: a plain substring replace consumes
the trailing space, which mis-merges odd runs (" a a a a a " →
aa a aa instead of the greedy aa aa a — found by the hypothesis
property test in tests/test_bpe.py). With lookarounds, one left-to-
right pass IS the standard greedy merge.

Determinism: the best pair each round is (max total count, then
lexicographically smallest pair) — reruns and repartitions cannot
change the learned merge sequence.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EOW = "</w>"
# Merge rounds between two lineage-truncating checkpoints in `train_bpe`.
CHECKPOINT_EVERY = 4


def _merge_pair(col: Column, pair: str, merged: str) -> Column:
    """One greedy left-to-right merge pass over a sentinel-spaced symbol
    string: lookarounds keep the boundary spaces unconsumed so scanning
    resumes ON the shared space and back-to-back occurrences all merge.
    Symbols may contain regex/replacement metacharacters — escape both
    sides (java.util.regex accepts backslash-escaped punctuation)."""
    pat = "(?<= )" + re.escape(pair) + "(?= )"
    repl = merged.replace("\\", "\\\\").replace("$", "\\$")
    return F.regexp_replace(col, pat, repl)


def word_symbol_table(df: DataFrame) -> DataFrame:
    """(word, n, syms) — corpus word counts with each word exploded into
    its initial character symbols + end-of-word marker, space-joined with
    sentinel spaces. This is the one corpus-size shuffle of BPE training."""
    words = (
        df.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # " h e l l o </w> ": split to chars, join with spaces, add sentinels.
    syms = F.concat(
        F.lit(" "),
        F.array_join(F.split(F.col("word"), ""), " "),
        F.lit(" " + _EOW + " "),
    )
    return words.select("word", "n", syms.alias("syms"))


def pair_counts(words: DataFrame) -> DataFrame:
    """(pair, total) — adjacent symbol pairs weighted by word count.
    transform's (s, i) lambda is 0-indexed, element_at 1-based, so
    element_at(arr, i + 2) is each symbol's right neighbor; single-symbol
    words slice to an empty array and drop out at the explode."""
    pairs = words.select(
        F.col("n"),
        F.explode(
            F.expr(
                "transform(slice(split(trim(syms), ' '), 1,"
                " size(split(trim(syms), ' ')) - 1),"
                " (s, i) -> concat(s, ' ', element_at(split(trim(syms), ' '), i + 2)))"
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(F.sum("n").alias("total"))


def train_bpe(df: DataFrame, n_merges: int = 12) -> DataFrame:
    """Learn `n_merges` BPE merges; returns the merge table
    (round, pair, merged, total) — 1-indexed, in learned order.

    Each round shuffles only the word table (vocabulary-bounded); the
    argmax row is the single driver collect. Lineage is truncated with
    localCheckpoint every `CHECKPOINT_EVERY` rounds, the same idiom as
    operators/graph.py::connected_components — without it the plan nests
    `n_merges` regexp_replace calls.
    """
    words = word_symbol_table(df).localCheckpoint()
    merges = []
    for r in range(1, n_merges + 1):
        top = (
            pair_counts(words)
            .orderBy(F.desc("total"), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, total = top[0]["pair"], top[0]["total"]
        merged = pair.replace(" ", "")
        merges.append((r, pair, merged, total))
        words = words.withColumn("syms", _merge_pair(F.col("syms"), pair, merged))
        if r % CHECKPOINT_EVERY == 0:
            words = words.localCheckpoint()
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "round int, pair string, merged string, total bigint"
    )


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Segment with a learned merge list: (doc_id, word, bpe_tokens) via
    explode — per-word char split + the merges replayed in learned order
    as a chained regexp_replace, which stays inside codegen (a transform-lambda
    over a word array would run the chain interpreted per element). Pure
    narrow map after the explode: no shuffle, no Python; the merge list
    ships in the plan as literals."""
    w = df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return w.withColumn("bpe_tokens", _segment_col(F.col("word"), merges))


def segment_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, bpe_tokens) over a word TABLE — the r12 vocabulary-scoped
    apply path (guide §1.2 "don't compute things you throw away"). The
    merge chain is a pure function of the word, so callers that only need
    the distinct (word → tokens) map (every current caller dedups right
    after `apply_bpe`) should segment the vocabulary once and join it
    back onto the positioned word stream: the chained-regexp cost then
    scales with |vocab|, not with corpus word instances (measured at
    sf0.1: 270,704 instances vs 31 distinct words)."""
    return words.select(
        F.col("word").alias("word"),
        _segment_col(F.col("word"), merges).alias("bpe_tokens"),
    )


def _segment_col(word: Column, merges: list[tuple[str, str]]) -> Column:
    """The merge chain itself: char split + learned merges in order, one
    codegen span — shared by the corpus-wide and vocabulary-scoped paths
    so the segmentation can never drift between them."""
    syms = F.concat(
        F.lit(" "),
        F.array_join(F.split(word, ""), " "),
        F.lit(" " + _EOW + " "),
    )
    for pair, merged in merges:
        syms = _merge_pair(syms, pair, merged)
    return F.split(F.trim(syms), " ")
