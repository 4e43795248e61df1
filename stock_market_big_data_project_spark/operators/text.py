"""Text-analysis operators for the LLM-data-pipeline surface
(SURVEY.md §7 Phase 5, extending the reference's collected-but-unanalyzed
tweet text, twitter/main.py:11-28 / OP-68).

Everything here is pure Catalyst expressions — tokenization, n-gram
shingling, hashing, language ID, quality scoring all run JVM-side inside
whole-stage codegen. No Python UDFs in the hot path: at 100 TB these
expressions stream through the vectorized reader at full speed.

Cross-engine hashing: md5 is the only hash both Spark and DuckDB implement
identically, so 64-bit token/shingle hashes are the first 15 hex chars of
md5 parsed as an integer (60 bits, fits bigint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import DOC_ID

# Deterministic marker vocabularies for the n-gram/stopword language-ID
# heuristic. The fixture corpus shares one vocabulary, so markers are chosen
# for determinism, not linguistic truth.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "table", "row"),
    "zh": ("spark", "query", "vector"),
}

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")

# Tokens per chunk in `token_chunks`.
CHUNK_TOKENS = 16


def md5_hash64(col: Column | str) -> Column:
    """Deterministic 60-bit hash both engines agree on:
    DuckDB mirror: ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def oracle_md5_hash64(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; no empty tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def exploded_tokens(df: DataFrame) -> DataFrame:
    """(id, pos, tok) — position is 1-based so the DuckDB mirror can zip
    ``unnest(toks)`` with ``unnest(range(1, len+1))``."""
    return df.select(
        F.col(DOC_ID),
        F.posexplode(tokens("text")).alias("pos0", "tok"),
    ).select(DOC_ID, (F.col("pos0") + 1).alias("pos"), "tok")


def word_shingles(df: DataFrame, n: int = 5) -> DataFrame:
    """Distinct word n-gram shingles per document, pre-hashed to 60-bit ints.

    Relational formulation (posexplode + lead window) instead of array
    slicing: identical semantics in Spark and DuckDB, and at scale the
    shingle stream shuffles as (id, bigint) pairs — 16 bytes/shingle, not
    the string payload. (An array-of-shingles formulation via `transform`
    lambdas was measured 3-18× SLOWER here: higher-order functions are
    interpreted per element, outside whole-stage codegen, and Catalyst
    re-inlines the array expression into every consumer column.)
    """
    # Non-coalescible hash repartition on the doc id BEFORE the explode:
    # it satisfies the shingle window's (and, by the subset rule, the
    # per-doc distinct's) ClusteredDistribution, so it REPLACES the
    # implicit window shuffle 1:1 — but being REPARTITION_BY_NUM, AQE
    # cannot fold it to 2-3 partitions the way it folds implicit shuffles
    # by BYTES. The tokenize→lead-window→md5 pipeline is compute-bound
    # (bytes are tiny, per-row work is not), so byte-sized coalescing
    # serializes it; measured 2.7 s → 1.5 s on dedup_ngram_jaccard at
    # sf0.1 (same pattern as the Granger UDTF chain).
    sc = df.sparkSession.sparkContext
    docs = df.repartition(sc.defaultParallelism, DOC_ID)
    toks = exploded_tokens(docs)
    w = Window.partitionBy(DOC_ID).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, n)]
    shingle = F.concat_ws(" ", *parts)
    out = toks.select(
        F.col(DOC_ID),
        F.when(F.lead("tok", n - 1).over(w).isNotNull(), shingle).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    return out.select(
        DOC_ID, md5_hash64(F.col("shingle")).alias("shingle_hash")
    ).distinct()


def oracle_word_shingles(n: int = 5) -> str:
    """DuckDB mirror of word_shingles → (doc_id, shingle_hash)."""
    parts = ", ".join(["tok"] + [f"lead(tok, {k}) OVER w" for k in range(1, n)])
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
             unnest(range(1, len(string_split_regex(trim(text), '\\s+')) + 1)) AS pos
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN lead(tok, {n - 1}) OVER w IS NOT NULL
                  THEN concat_ws(' ', {parts}) END AS shingle
      FROM toks
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT DISTINCT doc_id,
           {oracle_md5_hash64("shingle")} AS shingle_hash
    FROM sh WHERE shingle IS NOT NULL
    """


def lang_scores(text_col: Column) -> dict[str, Column]:
    """Marker-token hit count per language over the token array."""
    toks = tokens(text_col)
    return {
        lang: F.size(
            F.filter(toks, lambda t: t.isin(*markers))
        )
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(text_col: Column) -> Column:
    """Deterministic argmax with fixed preference order en > es > zh."""
    s = lang_scores(text_col)
    return (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["zh"]), "en")
        .when(s["es"] >= s["zh"], "es")
        .otherwise("zh")
    )


def quality_score(text_col: Column) -> Column:
    """Length+stopword quality score in [0,1], rounded to 6 dp — the same
    formula `clean_corpus_pipeline` thresholds on (half length saturation at
    50 tokens, half non-stopword ratio)."""
    toks = tokens(text_col)
    nt = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return F.round(
        F.least(nt / F.lit(50.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.try_divide(n_stop, nt)) * 0.5,
        6,
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition/diversity signals per document (Rae et al.
    2021 §A1.1 adapted to the whitespace-token surface): type-token ratio,
    fraction of tokens covered by the most frequent bigram, and fraction of
    trigram occurrences that are duplicates. Everything is the relational
    posexplode + lead-window form (see `word_shingles` for why arrays are
    slower), so per-doc state never materializes: at 100 TB the gram counts
    are two map-side-combined hash aggregates keyed (doc, gram).

    Returns (id, n_tokens, ttr, top_bigram_frac, dup_trigram_frac).
    """
    sc = df.sparkSession.sparkContext
    # Same compute-bound-stage idiom as word_shingles: a non-coalescible
    # hash repartition on the doc id feeds the gram window AND (by the
    # subset rule) every downstream (doc)/(doc, gram) aggregation.
    docs = df.repartition(sc.defaultParallelism, DOC_ID)
    toks = exploded_tokens(docs)
    w = Window.partitionBy(DOC_ID).orderBy("pos")
    nxt1, nxt2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    grams = toks.select(
        DOC_ID,
        "tok",
        F.when(nxt1.isNotNull(), F.concat_ws(" ", F.col("tok"), nxt1)).alias(
            "bigram"
        ),
        F.when(
            nxt2.isNotNull(), F.concat_ws(" ", F.col("tok"), nxt1, nxt2)
        ).alias("trigram"),
    )
    tok_stats = grams.groupBy(DOC_ID).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )
    bi = (
        grams.filter(F.col("bigram").isNotNull())
        .groupBy(DOC_ID, "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(DOC_ID)
        .agg(F.max("c").alias("top_bi"))
    )
    tri = (
        grams.filter(F.col("trigram").isNotNull())
        .groupBy(DOC_ID, "trigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(DOC_ID)
        .agg(
            F.sum(
                F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))
            ).alias("dup_tri"),
            F.sum("c").alias("n_tri"),
        )
    )
    return (
        tok_stats.join(bi, DOC_ID, "left")
        .join(tri, DOC_ID, "left")
        .select(
            DOC_ID,
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("ttr"),
            # 2·top_bi can exceed n_tokens on overlapping repeated runs
            # ('a a a': top bigram count 2 → 4/3), so the coverage is
            # capped at 1.0 to honor the fraction contract downstream
            # thresholds assume (ADVICE r4).
            F.round(
                F.least(
                    F.col("top_bi") * 2 / F.col("n_tokens"), F.lit(1.0)
                ),
                6,
            ).alias("top_bigram_frac"),
            F.round(F.col("dup_tri") / F.col("n_tri"), 6).alias(
                "dup_trigram_frac"
            ),
        )
    )


def token_chunks(df: DataFrame) -> DataFrame:
    """Split each document into disjoint `CHUNK_TOKENS`-token chunks — the unit of
    C4-style sub-document dedup (Raffel et al. 2020 dedupe three-sentence
    spans; this corpus has no sentence marks, so spans are fixed token
    windows). Returns (id, chunk_idx, chunk, chunk_hash); reassembly order
    is chunk_idx. One shuffle (the doc-id repartition feeding both the
    position window and the chunk aggregate)."""
    sc = df.sparkSession.sparkContext
    docs = df.repartition(sc.defaultParallelism, DOC_ID)
    toks = exploded_tokens(docs)
    chunked = toks.withColumn(
        "chunk_idx", F.expr(f"CAST((pos - 1) DIV {CHUNK_TOKENS} AS INT)")
    )
    chunks = chunked.groupBy(DOC_ID, "chunk_idx").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("chunk")
    )
    return chunks.withColumn("chunk_hash", md5_hash64(F.col("chunk")))


def context_windows(df: DataFrame, size: int = 32, stride: int = 24) -> DataFrame:
    """Split documents into overlapping `size`-token context windows at
    `stride` (the over-length-document preparation step before sequence
    packing: window w covers 1-based token positions
    [w·stride+1, w·stride+size]). Each token fans out to the windows that
    contain it — an explode factor of ≤ size/stride, paid once — and the
    windows assemble in the SAME doc-keyed shuffle the position window
    already needs (the token_chunks idiom). Window bounds use only
    nonnegative integer division, so Spark's truncating `DIV` and
    DuckDB's flooring `//` agree and the output is bit-exact
    cross-engine. Returns (id, window_id, win_start, n_win_tokens,
    window_text).

    Requires stride <= size (overlapping-or-adjacent windows): with a
    coverage GAP (stride > size), positions inside a gap would get
    w_lo > w_hi and F.sequence would fan them into a DESCENDING range of
    windows that do not contain them — corrupt output, not an error. Gap
    strides are not a real chunking regime, so reject them loudly.
    """
    if stride > size:
        raise ValueError(
            f"context_windows requires stride <= size, got stride={stride} "
            f"> size={size}: gap strides would mis-assign tokens in the "
            "uncovered positions"
        )
    if stride <= 0 or size <= 0:
        raise ValueError("context_windows requires positive size and stride")
    sc = df.sparkSession.sparkContext
    docs = df.repartition(sc.defaultParallelism, DOC_ID)
    toks = exploded_tokens(docs)
    w_hi = F.expr(f"CAST((pos - 1) DIV {stride} AS INT)")
    w_lo = F.when(F.col("pos") <= size, F.lit(0)).otherwise(
        F.expr(f"CAST((pos - {size} + {stride} - 1) DIV {stride} AS INT)")
    )
    fanned = toks.select(
        DOC_ID,
        "pos",
        "tok",
        F.explode(F.sequence(w_lo, w_hi)).alias("window_id"),
    )
    return fanned.groupBy(DOC_ID, "window_id").agg(
        F.min(F.col("window_id") * stride + 1).alias("win_start"),
        F.count(F.lit(1)).cast("int").alias("n_win_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("window_text"),
    )


def duplicated_spans(df: DataFrame, k: int = 8) -> DataFrame:
    """Maximal duplicated token spans (the span form of exact substring
    dedup, Lee et al. 2021 "Deduplicating Training Data Makes Language
    Models Better", adapted from suffix arrays to the relational
    surface): a position is covered iff a k-token gram starting there
    occurs more than once in the corpus (by hash, position-aware —
    word_shingles dedups per doc, so gram positions are rebuilt here);
    runs of covered start positions closer than k merge into maximal
    [span_start, span_end] intervals per document via gaps-and-islands.
    Plan shape: one corpus-wide gram-frequency aggregate on the 60-bit
    gram hash (map-side combined) + one doc-keyed shuffle for the gram
    build and the island merge — no suffix array, no quadratic join;
    at 100 TB the frequency table is the only corpus-sized shuffle.
    Returns (id, span_start, span_end, n_grams) — end position is the
    last token INDEX covered (start of last dup gram + k - 1).
    """
    sc = df.sparkSession.sparkContext
    docs = df.repartition(sc.defaultParallelism, DOC_ID)
    toks = exploded_tokens(docs)
    w = Window.partitionBy(DOC_ID).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    gram = F.when(
        F.lead("tok", k - 1).over(w).isNotNull(), F.concat_ws(" ", *parts)
    )
    grams = toks.select(
        DOC_ID, "pos", md5_hash64(gram).alias("gh")
    ).filter(F.col("gh").isNotNull())
    freq = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    dup = grams.join(freq.filter(F.col("n") > 1), "gh").select(DOC_ID, "pos")
    wd = Window.partitionBy(DOC_ID).orderBy("pos")
    islands = dup.withColumn("prev", F.lag("pos").over(wd)).withColumn(
        "new_span",
        F.when(
            F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1
        ).otherwise(0),
    )
    span_id = F.sum("new_span").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        islands.withColumn("span", span_id)
        .groupBy(DOC_ID, "span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(DOC_ID, "span_start", "span_end", "n_grams")
    )
