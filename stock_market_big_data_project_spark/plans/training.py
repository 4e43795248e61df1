"""Training-data-pipeline queries (rounds 4-5): repetition-based quality
filtering (Gopher), sub-document chunk dedup (C4), stratified per-source
sampling, dedup-cluster canonicalization by quality, TF-IDF corpus
search, deterministic training-order shuffling, streaming/incremental
near-dup dedup, DSIR importance weights, FFD sequence packing, and
mergeable-sketch rollups.

These extend the reference's collected-but-never-analyzed text surface
(twitter/main.py:11-28, OP-68) with the remaining operator families a
100 TB training-data pipeline runs between "crawl" and "tokenize": decide
what to KEEP (repetition filters, chunk dedup, cluster canonicalization),
decide the MIX (stratified sampling, DSIR importance resampling), FIND
examples (TF-IDF search), and fix the ORDER and LAYOUT (shuffle into
shards, FFD sequence packing). The relational queries are built-in
Catalyst expressions over md5-derived hashes — bitwise DuckDB-checkable;
the two declared-algorithmic ones (FFD packing, HLL sketch rollup) are
rows-only with differential/property tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import MOD, ngram_jaccard_pairs
from ..operators.graph import connected_components, connected_components_oracle_sql
from ..operators.text import (
    md5_hash64,
    oracle_md5_hash64,
    oracle_word_shingles,
    quality_score,
    repetition_stats,
    token_chunks,
    tokens,
)
from ..sources.tables import load_table
from ..operators.text import LANG_MARKERS
from .llm import _STOP_SQL, _TOKS, _lang_score_sql
from .retrieval import _bpe_oracle
from .registry import register, register_local


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_docs + SIZE-CONDITIONAL round-robin to the session parallelism
    (r12, guide §2.5 "one huge unsplittable file ... repartition
    immediately after the read" / §2.6 idle capacity): for queries whose
    FIRST stage is a compute-heavy per-row expansion
    (tokenize/shingle/score), a single-split scan otherwise serializes
    that stage on one task. Used only where the A/B measured a win —
    trivial first stages (e.g. one md5 aggregate) keep the plain scan,
    where the extra exchange costs more than it spreads. r13 (VERDICT
    r12 #2): routed through `rebalance_for_compute`'s byte guard, so on
    a scan already yielding ≥ parallelism max-sized splits this is a
    no-op — the full-row shuffle only fires for inputs too small to
    parallelize on their own."""
    from ..operators.spread import rebalance_for_compute

    return rebalance_for_compute(_docs(spark, sf_dir))


# Shared oracle CTE: whitespace tokens with 1-based positions (the same
# zip-with-range trick as oracle_word_shingles).
_ORACLE_TOKS = f"""
    toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             unnest(range(1, len({_TOKS}) + 1)) AS pos
      FROM documents
    )
"""


# --- Gopher-style repetition filters ---------------------------------------------
@register_local(  # demoted r12 (slot for the promotion cohort): the
    # text-quality filter family keeps its driver hash rows via
    # text_analysis_bundle and training_pipeline_e2e
    "gopher_repetition_filters",
    oracle=f"""
    WITH {_ORACLE_TOKS},
    g AS (
      SELECT doc_id, tok,
             CASE WHEN lead(tok, 1) OVER w IS NOT NULL
                  THEN concat_ws(' ', tok, lead(tok, 1) OVER w) END AS bigram,
             CASE WHEN lead(tok, 2) OVER w IS NOT NULL
                  THEN concat_ws(' ', tok, lead(tok, 1) OVER w,
                                 lead(tok, 2) OVER w) END AS trigram
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    ts AS (
      SELECT doc_id, count(*) AS n_tokens,
             count(DISTINCT tok) AS n_distinct
      FROM g GROUP BY 1
    ),
    bi AS (
      SELECT doc_id, max(c) AS top_bi FROM (
        SELECT doc_id, bigram, count(*) AS c FROM g
        WHERE bigram IS NOT NULL GROUP BY 1, 2
      ) GROUP BY 1
    ),
    tri AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS dup_tri,
             CAST(sum(c) AS BIGINT) AS n_tri
      FROM (
        SELECT doc_id, trigram, count(*) AS c FROM g
        WHERE trigram IS NOT NULL GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT ts.doc_id, ts.n_tokens,
           round(n_distinct / n_tokens, 6) AS ttr,
           round(least(top_bi * 2 / n_tokens, 1.0), 6) AS top_bigram_frac,
           round(dup_tri / n_tri, 6) AS dup_trigram_frac
    FROM ts
    LEFT JOIN bi ON bi.doc_id = ts.doc_id
    LEFT JOIN tri ON tri.doc_id = ts.doc_id
    """,
)
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition signals per document (Rae et al. 2021 §A1.1,
    token-adapted): type-token ratio, most-frequent-bigram coverage,
    duplicate-trigram fraction. The filter decision itself is a trivial
    threshold over these columns; the engine work is the signals — two
    (doc, gram) hash aggregates fed by one doc-keyed repartition, all
    map-side-combinable, no per-doc state. See
    operators/text.py::repetition_stats."""
    return repetition_stats(_docs_spread(spark, sf_dir))


# --- C4-style sub-document chunk dedup --------------------------------------------
@register_local(
    "chunk_dedup_c4",
    oracle=f"""
    WITH {_ORACLE_TOKS},
    ch AS (
      SELECT doc_id, CAST((pos - 1) // 16 AS INT) AS chunk_idx,
             string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM toks GROUP BY 1, 2
    ),
    flagged AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (
               PARTITION BY {oracle_md5_hash64("chunk")}
               ORDER BY doc_id, chunk_idx) = 1 AS kept
      FROM ch
    )
    SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx)
                          FILTER (WHERE kept), '')) AS kept_md5
    FROM flagged GROUP BY doc_id
    """,
)
def chunk_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup, C4-style (Raffel et al. 2020 remove repeated
    three-sentence spans; this corpus has no sentence marks, so spans are
    disjoint 16-token chunks): corpus-wide, each distinct chunk survives
    only at its first (doc_id, chunk_idx) occurrence. Plan: one doc-keyed
    repartition feeds tokenize→chunk-assembly, winners come from a
    map-side-combinable min-struct aggregate on the 60-bit chunk hash
    (skew-safe — see inline comment), then one shuffle back to doc_id
    reassembles. The kept text is fingerprinted (md5) so the oracle
    verifies reassembly order, not just counts."""
    chunks = token_chunks(_docs(spark, sf_dir))
    # Winner per chunk_hash via a map-side-combinable min-struct aggregate,
    # NOT row_number over a chunk_hash window: a boilerplate chunk repeated
    # corpus-wide is a guaranteed hot key at 100 TB, and a window partition
    # is a single sorted task while the aggregate collapses the hot key in
    # the map phase and AQE skew-splits the join back.
    winners = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    )
    flagged = chunks.join(winners, "chunk_hash").select(
        "doc_id",
        "chunk_idx",
        "chunk",
        (
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("chunk_idx") == F.col("w.chunk_idx"))
        ).alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            )
        ).alias("kept_md5"),
    )


# --- stratified per-source sampling ------------------------------------------------
_STRAT_QUOTA = 10


@register_local(
    "stratified_source_sample",
    oracle=f"""
    SELECT source, doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {oracle_md5_hash64(
                   "'strat:' || CAST(doc_id AS VARCHAR)")}, doc_id)
               AS rank
      FROM documents
    ) WHERE rank <= {_STRAT_QUOTA}
    """,
)
def stratified_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: up to 10 docs per source,
    chosen by hash rank — the training-mix control. Hash-rank selection is
    a reservoir that is stable under reruns, repartitioning, and corpus
    appends-at-the-tail (a doc's rank only changes if earlier-hashed docs
    arrive in its stratum), unlike df.sampleBy whose membership is
    layout-dependent.

    Two-stage top-K so a hot stratum never serializes: stage 1 takes the
    per-(stratum, shuffle-partition) top-K — the (source, pid) key spreads
    a dominant source across partitions — and stage 2 ranks only the
    ≤ K×partitions survivors per stratum. The global top-K is a subset of
    the union of per-partition top-Ks, so survivor rank = true stratum
    rank and the output is identical to the single-window form (which the
    oracle still uses)."""
    d = _docs(spark, sf_dir)
    hsh = md5_hash64(
        F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
    )
    hashed = d.select("source", "doc_id", hsh.alias("hsh"))
    w_local = Window.partitionBy("source", F.spark_partition_id()).orderBy(
        "hsh", "doc_id"
    )
    survivors = hashed.select(
        "source", "doc_id", "hsh", F.row_number().over(w_local).alias("lr")
    ).filter(F.col("lr") <= _STRAT_QUOTA)
    w = Window.partitionBy("source").orderBy("hsh", "doc_id")
    return (
        survivors.select(
            "source", "doc_id", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= _STRAT_QUOTA)
    )


# --- dedup-cluster canonicalization by quality -------------------------------------
@register_local(
    "cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE sh AS ({oracle_word_shingles(n=3)}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle_hash = b.shingle_hash
                         AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.3
    ), {connected_components_oracle_sql('pairs')}, q AS (
      SELECT doc_id,
             round(LEAST(len({_TOKS}) / 50.0, 1.0) * 0.5
                   + (1.0 - len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL})))
                       / len({_TOKS})) * 0.5, 6) AS quality_score
      FROM documents
    ), a AS (
      SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS cluster_id,
             q.quality_score
      FROM q LEFT JOIN cc c ON c.node = q.doc_id
    )
    SELECT doc_id, cluster_id, quality_score,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY quality_score DESC, doc_id) = 1
             AS kept
    FROM a
    """,
)
def cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonicalization policy that finishes a dedup pipeline: near-dup
    clusters (3-gram Jaccard ≥ 0.3 → connected components) keep their
    HIGHEST-QUALITY member, not the min-id one — the policy production
    dedup actually wants (keep the cleanest copy, drop the rest).
    Singletons are their own cluster and always kept, so the output covers
    the full corpus with a kept flag. Quality is the same score
    clean_corpus_pipeline thresholds on, a narrow map; the cluster argmax
    is one window over cluster_id."""
    d = _docs(spark, sf_dir)
    cc = connected_components(
        ngram_jaccard_pairs(d, threshold=0.3).select("id_a", "id_b")
    )
    scored = d.select(
        "doc_id", quality_score(F.col("text")).alias("quality_score")
    )
    assigned = (
        scored.join(cc, scored.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            "quality_score",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return assigned.select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.row_number().over(w) == 1).alias("kept"),
    )


# --- TF-IDF corpus search ----------------------------------------------------------
_QUERY_TERMS = ("spark", "join", "window", "merge")
_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)


@register_local(
    "tfidf_search_topk",
    oracle=f"""
    WITH tt AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
    ), f AS (
      SELECT doc_id, tok FROM tt WHERE tok IN ({_TERMS_SQL})
    ), tf AS (
      SELECT doc_id, tok, count(*) AS c FROM f GROUP BY 1, 2
    ), dfc AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM f GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    parts AS (
      SELECT tf.doc_id,
             CAST((tf.c / dl.n_tokens)
                  * ((n.n_docs + 1.0) / (dfc.df + 1.0))
                  AS DECIMAL(28,15)) AS contrib
      FROM tf JOIN dfc USING (tok) JOIN dl USING (doc_id) CROSS JOIN n
    )
    SELECT doc_id, round(CAST(sum(contrib) AS DOUBLE), 9) AS tfidf
    FROM parts GROUP BY doc_id
    ORDER BY tfidf DESC, doc_id LIMIT 20
    """,
)
def tfidf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search over the corpus: top-20 docs by TF-IDF for a fixed
    query (idf kept ln-free — (N+1)/(df+1) — so both engines compute the
    identical IEEE doubles; per-term contributions sum as exact decimals,
    order-independent). The term filter lands BEFORE any shuffle, so at
    100 TB the pipeline is: narrow scan-side filter → tiny (doc, term)
    aggregate over matching docs only → broadcast of the 4-row df table →
    TakeOrderedAndProject. Doc lengths come from a narrow map, not a
    second explode."""
    d = _docs(spark, sf_dir)
    term_toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isin(*_QUERY_TERMS))
    tf = term_toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    dfc = term_toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    doclen = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    contrib = (
        (F.col("c") / F.col("n_tokens"))
        * ((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    ).cast("decimal(28,15)")
    parts = (
        tf.join(F.broadcast(dfc), "tok")
        .crossJoin(F.broadcast(ndocs))
        .join(doclen, "doc_id")
        .select("doc_id", contrib.alias("contrib"))
    )
    return (
        parts.groupBy("doc_id")
        .agg(F.sum("contrib").alias("s"))
        .select(
            "doc_id", F.round(F.col("s").cast("double"), 9).alias("tfidf")
        )
        .orderBy(F.desc("tfidf"), "doc_id")
        .limit(20)
    )


# --- deterministic training-order shuffle ------------------------------------------
@register_local(
    "training_order_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(hsh % 64 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY hsh % 64
                                   ORDER BY hsh, doc_id) AS INT) AS pos
    FROM (
      SELECT doc_id,
             {oracle_md5_hash64("'shuffle:' || CAST(doc_id AS VARCHAR)")}
               AS hsh
      FROM documents
    )
    """,
)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 64 training shards: shard = keyed
    hash mod 64, position within shard = hash rank. This is how a 100 TB
    corpus gets a reproducible random order WITHOUT a global sort — the
    only exchange is the hash repartition into shards, and each shard
    orders independently (the standard shards-then-local-shuffle trick;
    a global row_number would serialize onto one partition). Seed lives in
    the hash salt."""
    d = _docs(spark, sf_dir)
    hsh = md5_hash64(
        F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("shard").orderBy("hsh", "doc_id")
    return (
        d.select(
            "doc_id",
            hsh.alias("hsh"),
        )
        .withColumn("shard", (F.col("hsh") % 64).cast("int"))
        .select(
            "doc_id", "shard", F.row_number().over(w).alias("pos")
        )
    )


# --- length-bucketed batch construction (r8) ----------------------------------------
# Sequence batching for training efficiency: grouping similar-length
# documents into the same batch bounds the padding waste that a random
# batch of mixed lengths pays (pad-to-max). The standard trainer recipe
# (HF group_by_length / fairseq max-tokens batching) as a declarative
# query: 8 length buckets × 16 deterministic shards, seeded order within
# each, fixed batch size, and the per-batch padding economics emitted so
# the waste is MEASURED, not assumed.
_LB_BUCKET_W = 32  # bucket = min(n_tokens DIV 32, 7)
_LB_SHARDS = 16
_LB_BATCH = 8


@register_local(
    "length_bucketed_batches",
    oracle=f"""
    WITH dl AS (
      -- blank-doc guard: filter on the FILTERED token count (Spark's
      -- tokens() drops empty tokens; string_split_regex(trim('')) is
      -- [''] with len 1, and trim() strips only spaces)
      SELECT doc_id, len({_TOKS}) AS n_tokens,
             {oracle_md5_hash64("'batch:' || CAST(doc_id AS VARCHAR)")} AS hsh
      FROM documents
      WHERE len(list_filter({_TOKS}, x -> x != '')) > 0
    ), assigned AS (
      SELECT doc_id, n_tokens,
             LEAST(n_tokens // {_LB_BUCKET_W}, 7) AS bucket,
             hsh % {_LB_SHARDS} AS shard,
             (row_number() OVER (
                PARTITION BY LEAST(n_tokens // {_LB_BUCKET_W}, 7),
                             hsh % {_LB_SHARDS}
                ORDER BY hsh, doc_id) - 1) // {_LB_BATCH} AS batch_id
      FROM dl
    )
    SELECT CAST(bucket AS INT) AS bucket, CAST(shard AS INT) AS shard,
           CAST(batch_id AS INT) AS batch_id,
           CAST(count(*) AS INT) AS n_docs,
           CAST(max(n_tokens) AS INT) AS max_len,
           CAST(sum(n_tokens) AS BIGINT) AS sum_len,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
             AS pad_tokens,
           round((count(*) * max(n_tokens) - sum(n_tokens))
                 / CAST(count(*) * max(n_tokens) AS DOUBLE), 6) AS pad_frac,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS members_md5
    FROM assigned GROUP BY 1, 2, 3
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch construction with measured padding economics:
    docs land in one of 8 length buckets (n_tokens DIV 32, capped), are
    dealt into 16 deterministic md5 shards (the training_order_shuffle
    trick — batch numbering parallelizes per (bucket, shard) instead of
    serializing on a global order), seeded-ordered within the shard, and
    cut into fixed batches of 8. Each output row is one BATCH with its
    pad-to-max waste (pad_tokens, pad_frac) and an md5 membership
    fingerprint — so the padding-efficiency claim the bucketing exists
    for is itself hash-certified.

    Scale shape: one tokenize-count pass, ONE exchange to
    (bucket, shard) — 128-way parallel windows, no global sort — and a
    batch-keyed rollup. Determinism: order = (md5 hash, doc_id), so
    reruns and repartitions produce identical batches."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens(F.col("text")))
    hsh = md5_hash64(
        F.concat(F.lit("batch:"), F.col("doc_id").cast("string"))
    )
    dl = (
        d.select("doc_id", n_tok.alias("n_tokens"), hsh.alias("hsh"))
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "bucket",
            F.least(
                F.expr(f"n_tokens DIV {_LB_BUCKET_W}"), F.lit(7)
            ).cast("int"),
        )
        .withColumn("shard", F.pmod(F.col("hsh"), _LB_SHARDS).cast("int"))
    )
    assigned = dl.withColumn(
        "batch_id",
        F.expr(f"(row_number() OVER (PARTITION BY bucket, shard "
               f"ORDER BY hsh, doc_id) - 1) DIV {_LB_BATCH}").cast("int"),
    )
    pad = F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
    return assigned.groupBy("bucket", "shard", "batch_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.max("n_tokens").cast("int").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_len"),
        pad.cast("long").alias("pad_tokens"),
        F.round(
            pad / (F.count(F.lit(1)) * F.max("n_tokens")).cast("double"), 6
        ).alias("pad_frac"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col("doc_id"))),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("members_md5"),
    )


# --- signed feature hashing (the hashing-trick featurizer) -------------------------
@register_local(
    "doc_feature_hashing",
    oracle=f"""
    WITH tt AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
    ), h AS (
      SELECT doc_id,
             CAST({oracle_md5_hash64("'fh:' || tok")} % 64 AS INT) AS dim,
             CASE WHEN ({oracle_md5_hash64("'fhs:' || tok")} % 2) = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tt
    ), agg AS (
      SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS s
      FROM h GROUP BY 1, 2
    )
    SELECT a.doc_id, a.dim, round(a.s / dl.n_tokens, 6) AS weight
    FROM agg a JOIN dl ON dl.doc_id = a.doc_id
    WHERE a.s != 0
    """,
)
def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (Weinberger et al. 2009, the 'hashing
    trick'): every token maps to one of 64 dimensions by hash, with a
    second hash choosing ±1 so collisions cancel in expectation — the
    zero-vocabulary featurizer that turns the document surface into
    fixed-width vectors the embedding machinery (IVF/PQ/LSH) can index.
    ONE exchange total: the doc-keyed repartition (the compute-bound-
    explode idiom of word_shingles) satisfies the (doc, dim) aggregate
    AND the per-doc window that recovers the token count as the sum of
    per-dim counts — no second tokenization, no length join, no
    vocabulary table. Sparse long-form output (zero-sum dims dropped),
    L1-normalized by token count, bit-exact vs the oracle (integer sums,
    one rounded division)."""
    sc = spark.sparkContext
    d = _docs(spark, sf_dir).repartition(sc.defaultParallelism, "doc_id")
    tt = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    dim = (
        md5_hash64(F.concat(F.lit("fh:"), F.col("tok"))) % 64
    ).cast("int")
    sgn = F.when(
        md5_hash64(F.concat(F.lit("fhs:"), F.col("tok"))) % 2 == 0, 1
    ).otherwise(-1)
    agg = (
        tt.select("doc_id", dim.alias("dim"), sgn.alias("sgn"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    n_tokens = F.sum("cnt").over(Window.partitionBy("doc_id"))
    return (
        agg.withColumn("n_tokens", n_tokens)
        .filter(F.col("s") != 0)
        .select(
            "doc_id",
            "dim",
            F.round(F.col("s") / F.col("n_tokens"), 6).alias("weight"),
        )
    )


# --- streaming corpus ingestion (continuous crawl) ---------------------------------
@register_local(
    "streaming_clean_corpus_parity",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text,
             {_lang_score_sql(LANG_MARKERS["en"])} AS s_en,
             {_lang_score_sql(LANG_MARKERS["es"])} AS s_es,
             {_lang_score_sql(LANG_MARKERS["zh"])} AS s_zh,
             len({_TOKS}) AS n_tokens,
             len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL}))) AS n_stop
      FROM documents
    ), scored AS (
      SELECT md5(text) AS text_md5,
             CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
                  WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted_lang,
             n_tokens,
             round(LEAST(n_tokens / 50.0, 1.0) * 0.5
                   + (1.0 - n_stop / n_tokens) * 0.5, 6) AS quality_score
      FROM s
    )
    SELECT DISTINCT text_md5, predicted_lang, n_tokens, quality_score
    FROM scored
    WHERE predicted_lang = 'en' AND quality_score >= 0.55
    """,
)
def streaming_clean_corpus_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM surface under Structured Streaming: the documents fixture
    split into 3 doc_id-range files and replayed one micro-batch per file
    through the REAL incremental path — language-ID → quality filter
    (stateless narrow maps) → exact dedup on md5(text) whose state spans
    micro-batches, so a duplicate arriving batches later is still
    suppressed (streaming/ingest.py::clean_corpus_stream). Output carries
    only text-derived fields (identical across copies), so the emitted
    set is deterministic and the batch DISTINCT oracle hash-matches —
    proving the continuous-crawl ingestion path computes exactly what the
    batch recompute does."""
    import shutil
    import tempfile

    from ..streaming.ingest import (
        clean_corpus_stream,
        read_documents_stream,
        run_to_memory,
    )

    td = tempfile.mkdtemp(prefix="stream_corpus_")
    try:
        # 3 contiguous doc_id ranges, written Spark-side (no driver
        # materialization) — harness scaffolding, like the other
        # streaming-parity queries' file copies.
        _docs(spark, sf_dir).repartitionByRange(3, "doc_id").write.mode(
            "overwrite"
        ).parquet(td)
        return run_to_memory(clean_corpus_stream(read_documents_stream(spark, td)))
    finally:
        shutil.rmtree(td, ignore_errors=True)


# --- streaming near-dup dedup (the LIVE append path) -------------------------------
@register_local(
    "streaming_near_dup_parity",
    oracle=f"""
    WITH sh AS ({oracle_word_shingles(n=3)}),
    idx AS (SELECT unnest(range(0, 16)) AS i),
    sig AS (
      SELECT doc_id, i,
             min(((2*i + 1) * (shingle_hash % {MOD}) + 7919*i) % {MOD}) AS mh
      FROM sh CROSS JOIN idx GROUP BY doc_id, i
    ), banded AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band,
             sum(mh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                 WHEN 2 THEN 961 ELSE 29791 END) AS band_hash
      FROM sig GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
      SELECT c.id_a, c.id_b, count(*) AS shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.3
    """,
)
def streaming_near_dup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup (not just exact) dedup on the live append path (VERDICT r4
    #4): the documents fixture replays as 3 doc_id-range micro-batches;
    each batch appends its banded MinHash signature + shingle index to the
    at-rest state dirs, probes the updated at-rest table with ONLY its own
    band keys (operators/dedup.py::incremental_lsh_candidates — work ∝
    delta × bucket), exact-Jaccard-verifies the delta-touching candidates,
    and emits the surviving pairs. A pair is emitted exactly once — in the
    micro-batch where its LATER member arrives (the earlier member is at
    rest by then; same-batch pairs meet because the delta is appended
    before the probe) — so the union of emissions must equal the
    from-scratch batch pipeline, which is precisely what the full-corpus
    oracle hash-checks. This is the reference's scheduler-driven ingest
    (README.md:23) shape: dedup work per tick is delta-sized, never
    corpus-sized. At rest the banded/shingle state lives (band,
    band_hash)- and doc_id-bucketed so the probe and verify joins are
    bucket-pruned (tests/test_incremental_bucketed.py proves the probe
    plans Exchange-free on that layout); the parquet-append dirs here are
    the harness stand-in for that layout."""
    from ..operators.dedup import (
        incremental_lsh_candidates,
        jaccard_on_candidates,
        minhash_banded,
        minhash_signatures,
    )
    from ..operators.text import word_shingles
    from ..streaming.ingest import replay

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        out_dir = f"{scratch}/pairs_out"
        if batch_id == 0:
            # seed the emission dir so a pair-free corpus still reads back
            spark.createDataFrame(
                [], "id_a long, id_b long, jaccard double"
            ).write.mode("overwrite").parquet(out_dir)
        delta = batch_df.select("doc_id", "text")
        sig = minhash_signatures(delta, n=3, k=16)
        banded = minhash_banded(sig, bands=4, rows=4)
        sh = word_shingles(delta, n=3)
        # append-then-probe: delta ⊆ at-rest holds, so the single
        # probe join finds old-vs-new AND new-vs-new pairs
        banded.write.mode("append").parquet(f"{scratch}/state_banded")
        sh.write.mode("append").parquet(f"{scratch}/state_shingles")
        at_rest = spark.read.parquet(f"{scratch}/state_banded")
        cand = incremental_lsh_candidates(at_rest, banded)
        pairs = jaccard_on_candidates(
            spark.read.parquet(f"{scratch}/state_shingles"),
            cand,
        )
        pairs.write.mode("append").parquet(out_dir)

    return replay(
        spark,
        _docs(spark, sf_dir),
        "doc_id",
        per_batch,
        lambda scratch: spark.read.parquet(f"{scratch}/pairs_out"),
    )


# --- incremental near-dup dedup (the append path) ----------------------------------
@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH sh AS ({oracle_word_shingles(n=3)}),
    idx AS (SELECT unnest(range(0, 16)) AS i),
    sig AS (
      SELECT doc_id, i,
             min(((2*i + 1) * (shingle_hash % {MOD}) + 7919*i) % {MOD}) AS mh
      FROM sh CROSS JOIN idx GROUP BY doc_id, i
    ), banded AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band,
             sum(mh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                 WHEN 2 THEN 961 ELSE 29791 END) AS band_hash
      FROM sig GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      WHERE a.doc_id % 5 = 4 OR b.doc_id % 5 = 4
    ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
      SELECT c.id_a, c.id_b, count(*) AS shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.3
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPEND path of the dedup pipeline: docs with doc_id % 5 == 4
    play a freshly-ingested delta; only THEIR band keys probe the at-rest
    banded signature table (operators/dedup.py::incremental_lsh_candidates
    — work ∝ |delta| × bucket, the existing corpus never self-joins
    again), then the exact-Jaccard verify runs on the delta-touching
    candidates only. The oracle computes the FULL banded pipeline and
    filters to delta-touching pairs — the hash match proves incremental ≡
    recompute-from-scratch, which is the contract that lets a 100 TB
    corpus dedup its daily append in O(delta)."""
    from ..operators.dedup import (
        incremental_lsh_candidates,
        minhash_banded,
        minhash_signatures,
    )
    from ..operators.text import word_shingles

    d = _docs(spark, sf_dir)
    sig = minhash_signatures(d, n=3, k=16)
    # r13 (guide §3.3 plan truncation): the full and delta sides of the
    # incremental probe join both derive from `banded`, and runtime
    # exchange reuse does not dedup them — the shingle→signature→banding
    # pipeline executed twice. One lazy materialization of the small
    # banded proxy (bands rows × 16 bytes per doc) inside the timed
    # region; 0.83 → 0.64 s at sf0.1 (4-round alternating A/B,
    # row-identical). A shingle-leg checkpoint on top measured neutral
    # and was not taken.
    banded = minhash_banded(sig, bands=4, rows=4).localCheckpoint(eager=False)
    delta = banded.filter(F.col("doc_id") % 5 == 4)
    cand = incremental_lsh_candidates(banded, delta)
    sh = word_shingles(d, n=3)
    from ..operators.dedup import jaccard_on_candidates

    return jaccard_on_candidates(sh, cand)


# --- product quantization (the memory side of ANN) ---------------------------------
# Shared oracle CTEs: md5-derived PQ codebook (16 centroids × 64 global
# dims; subspace j = dims j*8..j*8+7) and the exact decimal per-(vec,
# subspace, centroid) squared distances — the same hash-constant scheme as
# the IVF/LSH oracles in plans/llm.py.
_PQ_DISTS = """
    v AS (
      SELECT vec_id, unnest(embedding) AS val,
             unnest(range(0, len(embedding))) AS d
      FROM embeddings
    ), cents AS (
      SELECT c, d,
             (CAST(('0x' || substr(md5('pq:' || CAST(c AS VARCHAR) || ',' ||
                                       CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000) / 1000000.0 - 0.5 AS comp
      FROM (SELECT unnest(range(0, 16)) AS c),
           (SELECT unnest(range(0, 64)) AS d)
    ), dists AS (
      SELECT x.vec_id, CAST(ce.d // 8 AS INT) AS subspace, ce.c,
             sum(CAST((CAST(x.val AS DOUBLE) - ce.comp) *
                      (CAST(x.val AS DOUBLE) - ce.comp)
                      AS DECIMAL(18,15))) AS dist
      FROM v x JOIN cents ce ON ce.d = x.d
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT vec_id, subspace, c, dist,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY dist, c) AS rn
      FROM dists
    )
"""


@register_local(
    "embedding_pq_codes",
    oracle=f"""
    WITH {_PQ_DISTS}
    SELECT vec_id, subspace, CAST(c AS INT) AS code,
           round(CAST(dist AS DOUBLE), 9) AS dist
    FROM ranked WHERE rn = 1
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize the corpus: 8 subspaces × 16 md5-derived centroids
    → 8 four-bit codes per vector (256 B float32 → 4 B, the 64×
    compression that keeps a probe's candidate set in cache at 100 TB).
    One narrow projection evaluates all 8×16 exact decimal distances per
    vector, then explodes to the code rows — no join, no shuffle
    (operators/pq.py::pq_encode). Even this approximate structure is
    bit-exact vs the oracle because the argmin is decimal-exact with
    deterministic ties."""
    from ..operators.pq import pq_encode

    return pq_encode(_emb(spark, sf_dir))


@register_local(
    "embedding_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_DISTS},
    codes AS (
      SELECT vec_id AS neighbor_id, subspace, c AS code
      FROM ranked WHERE rn = 1
    ), lut AS (
      SELECT vec_id AS query_id, subspace, c AS code, dist AS qdist
      FROM dists WHERE vec_id < 10
    ), s AS (
      SELECT l.query_id, co.neighbor_id, sum(l.qdist) AS adc
      FROM codes co JOIN lut l USING (subspace, code)
      WHERE co.neighbor_id != l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, round(CAST(adc AS DOUBLE), 9) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-5 for the same 10 queries as the
    brute-force/IVF baselines: the query-side lookup table (10×8×16 exact
    decimal ‖q_j − c‖²) broadcasts, and the corpus side joins 4-byte codes
    against it — the corpus scan never touches floats
    (operators/pq.py::pq_adc_topk). Approximation quality vs exact L2 is
    bounded in tests/test_pq.py; the oracle here proves the machinery
    (encode, LUT, 8-lookup decimal sums, ranking) bit-for-bit."""
    from ..operators.pq import pq_adc_topk

    emb = _emb(spark, sf_dir)
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 10))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


@register(
    "embedding_ivfpq_topk",
    oracle=f"""
    WITH {_PQ_DISTS},
    icents AS (
      SELECT c, d,
             (CAST(('0x' || substr(md5('ivf:' || CAST(c AS VARCHAR) || ',' ||
                                       CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000) / 1000000.0 - 0.5 AS comp
      FROM (SELECT unnest(range(0, 8)) AS c),
           (SELECT unnest(range(0, 64)) AS d)
    ), cdots AS (
      SELECT x.vec_id, ce.c,
             CAST(sum(CAST(CAST(x.val AS DOUBLE) * ce.comp
                           AS DECIMAL(18,15))) AS DOUBLE) AS dot
      FROM v x JOIN icents ce ON ce.d = x.d
      GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c) AS rn
        FROM cdots
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, c AS cell FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c) AS rn
        FROM cdots WHERE vec_id < 10
      ) WHERE rn <= 2
    ), codes AS (
      SELECT vec_id AS neighbor_id, subspace, c AS code
      FROM ranked WHERE rn = 1
    ), lut AS (
      SELECT vec_id AS query_id, subspace, c AS code, dist AS qdist
      FROM dists WHERE vec_id < 10
    ), s AS (
      SELECT p.query_id, co.neighbor_id, sum(l.qdist) AS adc
      FROM codes co
      JOIN assign a ON a.vec_id = co.neighbor_id
      JOIN probes p ON p.cell = a.cell
      JOIN lut l ON l.query_id = p.query_id
             AND l.subspace = co.subspace AND l.code = co.code
      WHERE co.neighbor_id != p.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, round(CAST(adc AS DOUBLE), 9) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style index (IVF-ADC): probe the 2 best of 8 IVF
    cells per query, ADC-score only those cells' PQ codes. IVF prunes
    WHICH vectors are read (≈ n/4 candidates), PQ compresses WHAT is read
    (4-byte codes, never floats) — multiplicative at 100 TB, where the
    corpus at rest is the cell-partitioned code table and a probe is
    partition pruning over 1/64-size rows
    (operators/pq.py::ivfpq_adc_topk). Fully bit-exact vs the composed
    oracle: md5 centroids + decimal argmins on both paths."""
    from ..operators.pq import ivfpq_adc_topk

    emb = _emb(spark, sf_dir)
    return ivfpq_adc_topk(emb, emb.filter(F.col("vec_id") < 10))


# --- distributed k-means (trains the IVF/PQ codebooks) -----------------------------
# Centroids and Lloyd rounds of `embedding_kmeans_train` and its oracle.
_KMEANS_K, _KMEANS_ITERS = 8, 5


def _kmeans_oracle() -> str:
    """DuckDB replay of the WHOLE exact-Lloyd trainer (r9, VERDICT r8 #5
    — the `bpe_apply_encode` trainer-replay pattern): md5-init centroids,
    then per round one materialized assignment CTE (exact decimal
    distances, argmin ties → lowest cell) and one materialized centroid
    CTE (exact decimal sums → one double division → round 9dp, empty
    cells carrying the previous round's comps), then the final
    assignment's per-cell summary. Every round's centroids are
    bit-identical to the Spark trainer's because every cross-row
    reduction is exact and every rounding is the F.round/round proven
    pair — so the hash certifies the full training trajectory, not just
    the last step."""
    parts = [
        f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, unnest(embedding) AS val,
             unnest(range(0, len(embedding))) AS d
      FROM embeddings
    ), c0 AS MATERIALIZED (
      SELECT c AS cell, d,
             (CAST(('0x' || substr(md5('ivf:' || CAST(c AS VARCHAR) || ','
                     || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000) / 1000000.0 - 0.5 AS comp
      FROM (SELECT unnest(range(0, {_KMEANS_K})) AS c),
           (SELECT unnest(range(0, 64)) AS d)
    )"""
    ]
    for r in range(1, _KMEANS_ITERS + 1):
        parts.append(f"""
    , a{r} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cell) AS rn
        FROM (
          SELECT x.vec_id, ce.cell,
                 sum(CAST((CAST(x.val AS DOUBLE) - ce.comp)
                          * (CAST(x.val AS DOUBLE) - ce.comp)
                          AS DECIMAL(18,15))) AS dist2
          FROM v x JOIN c{r - 1} ce ON ce.d = x.d
          GROUP BY 1, 2
        )
      ) WHERE rn = 1
    ), c{r} AS MATERIALIZED (
      SELECT p.cell, p.d, coalesce(m.m, p.comp) AS comp
      FROM c{r - 1} p LEFT JOIN (
        SELECT a.cell, x.d,
               round(CAST(sum(CAST(CAST(x.val AS DOUBLE) AS DECIMAL(18,15)))
                          AS DOUBLE) / count(*), 9) AS m
        FROM v x JOIN a{r} a USING (vec_id)
        GROUP BY 1, 2
      ) m ON m.cell = p.cell AND m.d = p.d
    )""")
    parts.append(f"""
    , dfin AS MATERIALIZED (
      SELECT vec_id, cell, dist2 FROM (
        SELECT vec_id, cell, dist2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cell) AS rn
        FROM (
          SELECT x.vec_id, ce.cell,
                 sum(CAST((CAST(x.val AS DOUBLE) - ce.comp)
                          * (CAST(x.val AS DOUBLE) - ce.comp)
                          AS DECIMAL(18,15))) AS dist2
          FROM v x JOIN c{_KMEANS_ITERS} ce ON ce.d = x.d
          GROUP BY 1, 2
        )
      ) WHERE rn = 1
    ), norms AS (
      SELECT cell,
             round(CAST(sum(CAST(comp * comp AS DECIMAL(18,15)))
                        AS DOUBLE), 9) AS centroid_norm2
      FROM c{_KMEANS_ITERS} GROUP BY 1
    )
    SELECT CAST(a.cell AS INT) AS cell, count(*) AS size,
           round(CAST(sum(a.dist2) AS DOUBLE), 9) AS inertia,
           any_value(n.centroid_norm2) AS centroid_norm2
    FROM dfin a JOIN norms n USING (cell)
    GROUP BY 1""")
    return "".join(parts)


@register_local("embedding_kmeans_train", oracle=_kmeans_oracle())
def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 Lloyd iterations, k=8, from the deterministic md5 init (the
    untrained IVF codebook): per iteration the corpus pays one narrow
    assignment + ONE k×64-row aggregate; the driver holds only the
    centroid grid. Returns the per-cell summary (size, inertia, centroid
    norm) of the final assignment — the trained upgrade path for
    ivf_cells/pq codebooks.

    FULL hash oracle since r9 (rows-only label retired): the trainer is
    the decimal-exact Lloyd tier (operators/kmeans.py::
    kmeans_train_exact — exact decimal distance sums, 9dp engine-rounded
    centroid means, md5 init), so the oracle can replay ALL five rounds
    as materialized CTEs and hash-check the summary; the float tier
    (kmeans_train) remains for tolerance-land deployments, differential-
    tested in tests/test_kmeans.py alongside the exact tier."""
    from ..operators.kmeans import kmeans_train_exact

    _, summary = kmeans_train_exact(
        _emb(spark, sf_dir), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )
    return summary


# --- distributed BPE vocabulary training -------------------------------------------
# Merge rounds `bpe_learn_merges` learns.
_LEARN_MERGES = 8


def _bpe_merges_oracle() -> str:
    """The trainer rounds alone, emitted as the merge table — the exact
    shape `operators/bpe.py::train_bpe` returns. Each round's argmax CTE
    (b{r}) already carries (pair, total); a round with no pairs left
    yields an empty b{r}, exactly matching the trainer's early break."""
    ctes = _bpe_oracle(_LEARN_MERGES)
    ctes = ctes[: ctes.index(", vocab AS MATERIALIZED")]
    rounds = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, pair,"
        f" replace(pair, ' ', '') AS merged,"
        f" CAST(total AS BIGINT) AS total FROM b{r}"
        for r in range(1, _LEARN_MERGES + 1)
    )
    return f"{ctes}\n    {rounds}"


@register_local("bpe_learn_merges", oracle=_bpe_merges_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 8 BPE merges over the corpus (operators/bpe.py::train_bpe):
    the corpus-size work is ONE word-count aggregate; the 8 iterative
    rounds run over the vocabulary-bounded word table with a 1-row
    driver collect per round (the argmax pair). Deterministic tie-break
    (max count, then lexicographically smallest pair) makes the merge
    sequence rerun- and partitioning-stable.

    FULL hash oracle since r9 (VERDICT r8 #5 — the rows-only label is
    retired): the DuckDB oracle replays the trainer as 8 materialized
    CTE rounds (pair counts → argmax with the exact tie rule →
    double-space merge pass — the `bpe_apply_encode` machinery,
    `_bpe_merges_oracle` above) and emits the merge table
    itself, so the learned sequence is hash-certified round by round.
    The pure-Python differential in tests/test_bpe.py stays as the
    second, independent check."""
    from ..operators.bpe import train_bpe

    return train_bpe(_docs(spark, sf_dir), n_merges=_LEARN_MERGES)


# --- DSIR importance weights (r5) ---------------------------------------------------
_DSIR_B = 256


@register_local(  # demoted r12 (slot for the promotion cohort): the
    # data-mixing/sampling family keeps its driver hash row via
    # perplexity_quality_buckets
    "dsir_importance_weights",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS tok,
             unnest(range(1, len({_TOKS}) + 1)) AS pos
      FROM documents
    ), bg AS (
      SELECT doc_id, lang, tok,
             lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM t
    ), f AS (
      SELECT doc_id, lang, tok AS f FROM bg
      UNION ALL
      SELECT doc_id, lang, concat_ws(' ', tok, nxt) FROM bg
      WHERE nxt IS NOT NULL
    ), fb AS (
      SELECT doc_id, lang,
             {oracle_md5_hash64("'dsir:' || f")} % {_DSIR_B} AS b
      FROM f
    ), lm AS (
      SELECT b, count(*) AS c_r,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      FROM fb GROUP BY 1
    ), tot AS (
      SELECT count(*) AS n_r,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t
      FROM fb
    ), nb AS (
      SELECT doc_id, b, count(*) AS c FROM fb GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, count(*) AS n_feats FROM fb GROUP BY 1
    ), parts AS (
      SELECT nb.doc_id,
             CAST(nb.c * (CAST((lm.c_t + 1) * (tot.n_r + {_DSIR_B}) AS DOUBLE)
                          / CAST((lm.c_r + 1) * (tot.n_t + {_DSIR_B}) AS DOUBLE))
                  AS DECIMAL(28,15)) AS contrib
      FROM nb JOIN lm USING (b) CROSS JOIN tot
    )
    SELECT parts.doc_id, dl.n_feats,
           round(CAST(sum(contrib) AS DOUBLE) / dl.n_feats, 9) AS importance
    FROM parts JOIN dl ON dl.doc_id = parts.doc_id
    GROUP BY parts.doc_id, dl.n_feats
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling") adapted to the declared surface: hashed
    n-gram features (unigrams + bigrams → 256 md5 buckets — the
    zero-vocabulary trick shared with `doc_feature_hashing`), a target
    LM from the lang='en' metadata slice vs the raw-corpus LM (add-1
    smoothed bucket frequencies), and a per-document importance weight
    for resampling the training mix toward the target distribution.

    The published estimator averages LOG probability ratios; here the
    per-feature link is the RATIO itself so both engines compute
    identical IEEE doubles (ln's last-ulp is libm-dependent — the same
    reason `tfidf_search_topk` keeps its idf ln-free), with contributions
    summed as exact decimals. Swapping ln back in is a one-expression
    change on both sides.

    Scale shape: one doc-keyed repartition feeds the bigram window and
    every (doc)/(doc, bucket) aggregate; the LM is ≤256 rows + a 1-row
    total — both broadcast — so the corpus never shuffles again after
    the feature explode. The unigram+bigram feature stream is ONE
    explode of a per-position [tok, tok⋅next] array — not a two-branch
    union: besides scanning once instead of twice, a union of two
    identically-hash-partitioned branches feeds downstream aggregates a
    partitioning claim that lets the final merge elide its exchange and
    emit PER-BRANCH groups (observed miscompile on pyspark 4.1.2 — see
    the verify skill note)."""
    sc = spark.sparkContext
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "text")
        .repartition(sc.defaultParallelism, "doc_id")
    )
    toks = base.select(
        "doc_id",
        "lang",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("tok", 1).over(w)
    bg = toks.select("doc_id", "lang", "tok", nxt.alias("nxt"))
    feats = bg.select(
        "doc_id",
        "lang",
        F.explode(
            F.array_compact(
                F.array(
                    F.col("tok"),
                    F.when(
                        F.col("nxt").isNotNull(),
                        F.concat_ws(" ", "tok", "nxt"),
                    ),
                )
            )
        ).alias("f"),
    )
    fb = feats.select(
        "doc_id",
        "lang",
        F.pmod(md5_hash64(F.concat(F.lit("dsir:"), F.col("f"))), F.lit(_DSIR_B)).alias("b"),
    )
    # ONE corpus aggregate; everything else derives from its (small)
    # output. The first draft built lm/tot/nb/dl as four independent
    # aggregates over `fb` — Catalyst can only ReuseExchange on identical
    # exchanges, and these shuffle on different keys, so the
    # tokenize→window→explode→md5 pipeline executed FOUR times (measured
    # 2.5 s vs ~0.5 s for the same-shape gopher query at sf0.1). Keying
    # the single pass by (doc, lang, bucket) — lang is functionally
    # dependent on doc — lets the LM, totals, and doc lengths all come
    # from tiny rollups of nb (≤ docs×256 rows).
    nb = fb.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("c"))
    # Materialize the compacted (doc, lang, bucket) counts ONCE: nb has
    # two consumers (the LM rollup and the scoring join), and Catalyst
    # cannot share the tokenize→window→explode→md5 pipeline between them
    # — exchange reuse needs canonically IDENTICAL subtrees, and
    # column pruning specializes each branch's scan, so without this the
    # corpus pipeline executed once PER CONSUMER (measured 4 scans,
    # 2.5 s at sf0.1; ~0.7 s with the persist). The cached table is the
    # compacted counts (≤ docs × 256 rows), not the corpus; at 100 TB
    # this is the "write the profile table once, read it twice" step a
    # real pipeline would stage to parquet. localCheckpoint (not
    # persist): a bare persist is retained for the session lifetime —
    # across a 121-query sweep that accumulates executor storage with no
    # release point — while checkpoint blocks are reclaimed by the
    # ContextCleaner as soon as the returned plan is garbage-collected.
    nb = nb.localCheckpoint(eager=True)
    is_t = F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0))
    lm = nb.groupBy("b").agg(
        F.sum("c").alias("c_r"), F.sum(is_t).alias("c_t")
    )
    tot = lm.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    ratio = (
        ((F.col("c_t") + 1) * (F.col("n_r") + _DSIR_B)).cast("double")
        / ((F.col("c_r") + 1) * (F.col("n_t") + _DSIR_B)).cast("double")
    )
    # n_feats folds into the same final aggregate (Σ c over the doc) —
    # no separate doc-length pass.
    parts = (
        nb.join(F.broadcast(lm), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "c",
            (F.col("c") * ratio).cast("decimal(28,15)").alias("contrib"),
        )
    )
    return (
        parts.groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("s"),
            F.sum("c").alias("n_feats"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(
                F.col("s").cast("double") / F.col("n_feats"), 9
            ).alias("importance"),
        )
    )


# --- FFD sequence packing (r5) ------------------------------------------------------
@register_local(
    "sequence_packing_ffd",
    oracle=r"""
    WITH RECURSIVE items AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t != '')) AS BIGINT) AS len,
             CAST((CAST(('0x' || substr(md5('seqpack:'
                          || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT))
                  % 16 AS INT) AS shard
      FROM documents
    ), ranked AS (
      SELECT doc_id, len, shard, least(len, 128) AS use,
             row_number() OVER (PARTITION BY shard
                                ORDER BY least(len, 128) DESC, doc_id)
               AS rk
      FROM items
    ), fold AS (
      -- one row per (shard, step): `bins` is the remaining capacity per
      -- open bin, `acc` the placements so far — the FFD fold itself
      SELECT shard, 0::BIGINT AS rk, []::BIGINT[] AS bins,
             []::STRUCT(doc_id BIGINT, len BIGINT, bin INT, off BIGINT,
                        tr BOOLEAN)[] AS acc
      FROM (SELECT DISTINCT shard FROM ranked)
      UNION ALL
      SELECT f.shard, i.rk,
             CASE WHEN chosen IS NULL THEN list_append(f.bins, 128 - i.use)
                  ELSE list_transform(range(1, len(f.bins) + 1),
                         j -> CASE WHEN j = chosen THEN f.bins[j] - i.use
                                   ELSE f.bins[j] END)
             END AS bins,
             list_append(f.acc, {
               'doc_id': i.doc_id, 'len': i.len,
               'bin': CAST(coalesce(chosen, len(f.bins) + 1) AS INT),
               'off': CASE WHEN chosen IS NULL THEN 0
                           ELSE 128 - f.bins[chosen] END,
               'tr': i.len > 128 }) AS acc
      FROM fold f
      JOIN ranked i ON i.shard = f.shard AND i.rk = f.rk + 1
      LEFT JOIN LATERAL (
        -- first-fit = first open bin with room; list_position returns 0
        -- (not NULL) on no match, hence the NULLIF
        SELECT NULLIF(list_position(
                 list_transform(f.bins, r -> r >= i.use), true), 0) AS chosen
      ) ch ON TRUE
    ), final AS (
      SELECT shard, acc,
             row_number() OVER (PARTITION BY shard ORDER BY rk DESC) AS rn
      FROM fold
    ), placed AS (
      SELECT shard, unnest(acc, recursive := true)
      FROM final WHERE rn = 1
    )
    SELECT doc_id, len, shard,
           (CAST(shard AS BIGINT) << 32) | (bin - 1) AS seq,
           off AS "offset", tr AS truncated
    FROM placed
    """,
)
def sequence_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-capacity training-sequence packing (first-fit-decreasing)
    over the documents corpus: token counts → 16 deterministic hash
    shards → per-shard FFD in one Arrow pass → (doc, shard, seq, offset)
    placement with truncation flags.

    FULL hash oracle since r9 (VERDICT r8 #5 — the "bin packing has no
    relational form" label is retired): the DuckDB oracle replays the
    per-shard FFD fold as a RECURSIVE CTE whose state row carries the
    open-bin capacities as a LIST (first-fit = list_position of the
    first bin with room; the bin update is a positional list_transform),
    one recursion step per item in (length desc, id asc) order — the
    trainer-replay pattern of `bpe_apply_encode` applied to a fold whose
    state is a vector instead of a table. Determinism and optimality
    bounds stay pinned by tests/test_seqpack.py (pure-Python
    differential, exactly-once coverage, capacity/offset invariants,
    partitioning invariance, FFD ≤ first-fit-in-id-order bin count).
    See operators/packing.py::pack_sequences_ffd."""
    from ..operators.packing import pack_sequences_ffd

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences_ffd(d, capacity=128, n_shards=16)


# --- mergeable-sketch rollup (r5) ---------------------------------------------------
@register_local("sketch_merge_rollup")
def sketch_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    `hll_sketch_agg`/`hll_union_agg`) — the incremental form of the
    cardinality story: per-source sketches are built in ONE pass, and the
    corpus-wide estimate comes from UNIONING the tiny sketch blobs, never
    from re-scanning. At 100 TB this is the pattern that makes daily
    stats O(delta): persist each partition's/day's sketch bytes, merge on
    read. Rows-only by design (sketch bytes are engine-specific);
    tests/test_sketches.py pins the estimates against exact distinct
    counts AND the lossless-merge property (union of per-source sketches
    == one whole-corpus sketch, bit-equal estimates).

    Output: one row per source + an '__all__' row from the merged
    sketch, with the distinct-token estimate for each."""
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    per_src = toks.groupBy("source").agg(
        F.hll_sketch_agg("tok", F.lit(12)).alias("sk")
    )
    merged = (
        per_src.agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            F.lit("__all__").alias("source"),
            F.hll_sketch_estimate("sk").alias("est_distinct_tokens"),
        )
    )
    return per_src.select(
        "source", F.hll_sketch_estimate("sk").alias("est_distinct_tokens")
    ).unionByName(merged)


# --- weighted systematic resampling (r5) --------------------------------------------
_SYS_K = 100


@register_local(
    "token_weighted_systematic_sample",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      FROM dl
    ), t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM dl)
    SELECT doc_id, n_tokens, cum,
           CAST((2*{_SYS_K}*cum + total) // (2*total)
                - (2*{_SYS_K}*(cum - n_tokens) + total) // (2*total)
                AS INT) AS n_picks,
           ((2*{_SYS_K}*cum + total) // (2*total))
             > ((2*{_SYS_K}*(cum - n_tokens) + total) // (2*total)) AS selected
    FROM c CROSS JOIN t
    """,
)
def token_weighted_systematic_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling WITHOUT transcendentals: systematic (particle-
    filter-style) resampling with probability ∝ token count — k=100
    equally-spaced pick points (2j+1)·T/(2k) walk the cumulative-weight
    axis, and a document is picked once per point inside its weight
    interval (Σ n_picks == k exactly). Everything is INTEGER arithmetic
    (floor-divisions of cross-multiplied counts), so unlike the classic
    u^(1/w) exponential-keys sampler there is no pow/ln whose last ulp
    differs across libm builds — the selection is bit-exact on both
    engines and under any partitioning.

    The cumulative weights come from the distributed two-pass prefix sum
    (operators/packing.py::prefix_sum — one range shuffle, no global
    window), and the 1-row total is broadcast, so at 100 TB the plan is
    the prefix sum plus a narrow map. int64 cross-products hold to
    ~4·10¹⁶ total tokens with k=100; past that the same expressions lift
    to DECIMAL(38,0) unchanged."""
    from ..operators.packing import prefix_sum

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    c = prefix_sum(d, "doc_id", "n_tokens", "cum")
    tot = d.agg(F.sum("n_tokens").alias("total"))
    k = _SYS_K
    g_hi = F.expr(f"(2*{k}*cum + total) DIV (2*total)")
    g_lo = F.expr(f"(2*{k}*(cum - n_tokens) + total) DIV (2*total)")
    return c.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "cum",
        (g_hi - g_lo).cast("int").alias("n_picks"),
        (g_hi > g_lo).alias("selected"),
    )


# --- corpus data card (r5) ----------------------------------------------------------
@register(
    "corpus_stats_card",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, lang,
             len({_TOKS}) AS n_tokens,
             md5(text) AS text_md5,
             round(LEAST(len({_TOKS}) / 50.0, 1.0) * 0.5
                   + (1.0 - len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL})))
                       / len({_TOKS})) * 0.5, 6) AS q
      FROM documents
    ), dupes AS (
      SELECT text_md5 FROM base GROUP BY text_md5 HAVING count(*) > 1
    ),
    sh3 AS ({oracle_word_shingles(n=3)}),
    hot AS (
      SELECT shingle_hash FROM sh3 GROUP BY shingle_hash
      HAVING count(*) > 0.05 * (SELECT count(*) FROM documents)
    ),
    shc AS (
      SELECT * FROM sh3
      WHERE shingle_hash NOT IN (SELECT shingle_hash FROM hot)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM shc a JOIN shc b ON a.shingle_hash = b.shingle_hash
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near_pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.3
    ),
    near_ids AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM near_pairs
        UNION ALL SELECT id_b AS doc_id FROM near_pairs
      )
    ),
    sh5 AS ({oracle_word_shingles(5)}),
    bench AS (SELECT DISTINCT shingle_hash FROM sh5 WHERE doc_id % 50 = 0),
    cont_ids AS (
      SELECT DISTINCT doc_id FROM sh5
      WHERE doc_id % 50 != 0
        AND shingle_hash IN (SELECT shingle_hash FROM bench)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           CAST(sum(CASE WHEN base.text_md5 IN (SELECT text_md5 FROM dupes)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs,
           CAST(sum(CASE WHEN base.doc_id IN (SELECT doc_id FROM near_ids)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup_docs,
           CAST(sum(CASE WHEN base.doc_id IN (SELECT doc_id FROM cont_ids)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated_docs,
           round(CAST(sum(CAST(q AS DECIMAL(28,15))) AS DOUBLE)
                 / count(*), 9) AS mean_quality
    FROM base GROUP BY source
    """,
)
def corpus_stats_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus "data card": per-source document/token counts, language
    spread, exact-duplicate exposure, NEAR-duplicate exposure (3-gram
    Jaccard ≥ 0.3, the dedup stage's own pair definition), benchmark
    contamination rate (shared word 5-grams, the contamination query's
    definition), and mean quality — the datasheet a training-data release
    ships with (r6 extends the r5 card with the near-dup/contamination
    columns the release datasheet also wants).

    Scale shape: the base stats stay ONE corpus scan + one md5-keyed dup
    window + one source rollup. The near-dup and contamination columns
    reuse the SAME plans the dedup/contamination stages already run — in
    a real pipeline both pair/hit tables are materialized by those stages
    and the card joins their distinct doc-id sides UNHINTED (each scales
    with the corpus, so no broadcast hint; AQE picks the strategy).
    Everything decimal-exact or integer, so the card is bit-reproducible."""
    from ..operators.text import word_shingles

    # r12 A/B: _docs_spread measured neutral here (the heavy shingle leg
    # is spread inside word_shingles already) - plain scan kept.
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.md5("text").alias("text_md5"),
        quality_score(F.col("text")).alias("q"),
    )
    # Dup exposure via a window over text_md5 — ONE corpus shuffle on the
    # 128-bit key, no join. The first draft broadcast the dup-key set;
    # that side scales with corpus duplicate exposure (commonly 20-40% of
    # a crawl), so a forced broadcast hint is a driver OOM at 100×. Never
    # hint a side whose size is a function of SF. NULL-text docs all land
    # in the single NULL-md5 partition, so the window count alone would
    # flag them as mutual duplicates; the oracle's `text_md5 IN (...)`
    # yields NULL→0 for NULL keys, so gate the flag on a non-null key.
    flagged = base.withColumn(
        "_dup",
        (
            F.col("text_md5").isNotNull()
            & (F.count(F.lit(1)).over(Window.partitionBy("text_md5")) > 1)
        ).cast("int"),
    )
    # Near-dup exposure: both sides of every verified 3-gram Jaccard pair
    # (the dedup family's exact definition, stop-shingle cut included).
    # r13 (VERDICT r12 #4, guide §3.3 plan truncation): the pair list is
    # consumed TWICE by the id_a/id_b union below, and the runtime
    # exchange reuse does NOT dedup the two copies of the whole
    # shingle→self-join→verify chain. The lazy localCheckpoint
    # materializes the (tiny, threshold-verified) pair list once INSIDE
    # the timed region — intra-query reuse, not cross-run caching.
    # Measured at sf0.1 (5-round alternating A/B, row-identical):
    # 1.90 s → 1.01 s for the full card.
    pairs = ngram_jaccard_pairs(
        d, threshold=0.3, max_doc_frac=0.05
    ).localCheckpoint(eager=False)
    near_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    # Contamination: ≥1 word 5-gram shared with the benchmark slice
    # (doc_id % 50 == 0 stand-in — same recipe as
    # contamination_ngram_overlap). The benchmark shingle set is the one
    # justified broadcast: a real benchmark is fixed-size (MBs),
    # independent of corpus SF.
    sh5 = word_shingles(d, 5)
    bench = (
        sh5.filter(F.col("doc_id") % 50 == 0).select("shingle_hash").distinct()
    )
    cont_ids = (
        sh5.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "shingle_hash")
        .select("doc_id")
        .distinct()
        .withColumn("_cont", F.lit(1))
    )
    flagged = flagged.join(near_ids, "doc_id", "left").join(
        cont_ids, "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_en"),
        F.sum(F.when(F.col("_dup") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_dup_docs"),
        F.sum(F.when(F.col("_near") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_dup_docs"),
        F.sum(F.when(F.col("_cont") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated_docs"),
        F.round(
            F.sum(F.col("q").cast("decimal(28,15)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_quality"),
    )


# --- UniMax training-mix allocation (r6) -------------------------------------------
@register_local(
    "unimax_source_allocation",
    oracle=f"""
    WITH tok AS (
      SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), base AS (
      SELECT source, n_tokens, n_tokens AS cap,
             (19 * SUM(n_tokens) OVER ()) // 20 AS t
      FROM tok
    ), o AS (
      SELECT *, row_number() OVER (ORDER BY cap, source) AS i,
             count(*) OVER () AS s,
             SUM(cap) OVER (ORDER BY cap, source) AS pref
      FROM base
    ), c AS (
      SELECT *, CASE WHEN cap * (s - i + 1) <= t - (pref - cap)
                     THEN i ELSE 0 END AS ci
      FROM o
    ), mm AS (SELECT *, max(ci) OVER () AS m FROM c),
    fin AS (
      SELECT *, max(CASE WHEN i = m THEN pref ELSE 0 END) OVER () AS pref_m
      FROM mm
    )
    SELECT source, n_tokens, cap,
           CAST(CASE WHEN i <= m THEN cap
                ELSE (t - pref_m) // (s - m)
                     + CASE WHEN i - m <= (t - pref_m) % (s - m)
                            THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc
    FROM fin
    """,
)
def unimax_source_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax training-mix allocation (Chung et al. 2023): split a total
    token budget (19/20 of the corpus here) across sources as uniformly
    as possible, capping each source at 1 epoch of its own tokens — the
    waterfilling solution, in closed form (operators/mixing.py). Chosen
    over temperature sampling (weights ∝ n^α) because the waterfill is
    pure integer arithmetic — bit-exact, cross-engine verifiable — where
    `pow`'s last ulp is libm-dependent. The corpus-sized work is ONE
    per-source token aggregate; the waterfill itself runs windowed over
    the per-source table (one row per source — driver-size by
    construction, like the DSIR LM table). Feeds
    `token_weighted_systematic_sample` per source to realize the drawn
    quota as an actual document sample."""
    from ..operators.mixing import unimax_waterfill

    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    budget = F.expr("(19 * sum(n_tokens) over ()) div 20")
    return unimax_waterfill(counts, "source", budget, epochs=1)


# --- in-engine quality classifier (r6) ---------------------------------------------
@register_local("quality_classifier_train")  # no oracle BY DESIGN: iterative
# float GD is not SQL-expressible bit-exactly (exp/log); the strong check
# is the numpy differential in tests/test_classifier.py (weight atol,
# exact final-prediction agreement, monotone loss) — the same declaration
# as the k-means and BPE trainers.
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the heuristic quality score into a linear model (the
    fastText-style quality-classifier pattern training pipelines use):
    weak labels = quality_score >= 0.9 (the corpus median sits at ~0.95, so the classes are balanced enough to learn), features = 64-dim signed-hash
    bag of words (the doc_feature_hashing featurizer, densified), model =
    logistic regression by distributed batch GD
    (operators/classifier.py). The hashed dims carry token identity; two
    engineered dims (length saturation, stopword ratio) carry the
    document statistics a pure bag-of-hashes cancels. Featurization is
    ONE staged pass (localCheckpoint'd); each of the 8 registered-demo
    iterations (the operator API takes arbitrary n_iter — the test
    suite trains 40) is ONE Arrow matmul pass emitting per-batch
    partial gradients — the driver holds only the weight vector, like the
    k-means centroid grid. Returns (dim, weight) with dim=-1 the
    intercept and dim=-2 the final mean log-loss — the persistable model
    that then scores future ingest at one narrow map per document."""
    from ..operators.classifier import hashed_dense_features, train_logreg

    d = _docs(spark, sf_dir)
    labeled = d.select(
        "doc_id",
        "text",
        (quality_score(F.col("text")) >= 0.9).cast("int").alias("label"),
    )
    feats = hashed_dense_features(labeled).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    w, b, losses = train_logreg(feats, lr=8.0, n_iter=8)
    rows = (
        [(-2, float(losses[-1])), (-1, float(b))]
        + [(i, float(w[i])) for i in range(len(w))]
    )
    return spark.createDataFrame(rows, "dim int, weight double")


# --- overlapping context windows (r6) ------------------------------------------------
@register_local(
    "doc_context_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             unnest(range(1, len({_TOKS}) + 1)) AS pos
      FROM documents
    ), fanned AS (
      SELECT doc_id, pos, tok,
             unnest(range(
               CASE WHEN pos <= 32 THEN 0
                    ELSE (pos - 32 + 24 - 1) // 24 END,
               (pos - 1) // 24 + 1)) AS window_id
      FROM toks
    )
    SELECT doc_id, CAST(window_id AS INT) AS window_id,
           CAST(window_id * 24 + 1 AS INT) AS win_start,
           CAST(count(*) AS INT) AS n_win_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS window_md5
    FROM fanned GROUP BY doc_id, window_id
    """,
)
def doc_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-length documents split into overlapping 32-token context
    windows at stride 24 (the chunk-to-context-length preparation step
    feeding sequence packing; the 8-token overlap preserves cross-
    boundary context the disjoint token_chunks form loses). Each token
    fans out to ≤ size/stride windows in one explode; windows assemble
    in the same doc-keyed shuffle the position window needs
    (operators/text.py::context_windows). Window bounds are nonnegative
    integer division only — truncating DIV ≡ flooring // — so the split
    is bit-exact cross-engine; window text is md5-fingerprinted so the
    oracle checks exact bytes without hauling strings."""
    from ..operators.text import context_windows

    d = _docs(spark, sf_dir)
    return context_windows(d, size=32, stride=24).select(
        "doc_id",
        F.col("window_id").cast("int").alias("window_id"),
        F.col("win_start").cast("int").alias("win_start"),
        "n_win_tokens",
        F.md5("window_text").alias("window_md5"),
    )


# --- duplicated-substring spans (r6) -------------------------------------------------
_SPAN_K = 8
_SPAN_LEADS = ", ".join(
    ["tok"] + [f"lead(tok, {j}) OVER w" for j in range(1, _SPAN_K)]
)


@register_local(
    "substring_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             unnest(range(1, len({_TOKS}) + 1)) AS pos
      FROM documents
    ), g AS (
      SELECT doc_id, pos,
             CASE WHEN lead(tok, {_SPAN_K - 1}) OVER w IS NOT NULL
                  THEN concat_ws(' ', {_SPAN_LEADS}) END AS gram
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grams AS (
      SELECT doc_id, pos, {oracle_md5_hash64("gram")} AS gh
      FROM g WHERE gram IS NOT NULL
    ), freq AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1
    ), dup AS (
      SELECT doc_id, pos FROM grams
      WHERE gh IN (SELECT gh FROM freq)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER wd IS NULL
                       OR pos - lag(pos) OVER wd > {_SPAN_K}
                  THEN 1 ELSE 0 END AS ns
      FROM dup WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)
    ), sp AS (
      SELECT doc_id, pos,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      FROM isl
    )
    SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + {_SPAN_K - 1} AS INT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM sp GROUP BY doc_id, span
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING spans (Lee et al. 2021's suffix-array
    dedup, re-expressed relationally): every position starting a k=8
    token gram that occurs more than once in the corpus is covered;
    covered positions within k of each other merge into maximal
    [span_start, span_end] intervals per document (gaps-and-islands).
    Finer than chunk_dedup_c4 (which only sees aligned 16-token chunks):
    spans catch duplicated passages at ANY offset. One corpus-sized
    gram-frequency aggregate + one doc-keyed island merge — no suffix
    array, no quadratic join (operators/text.py::duplicated_spans)."""
    from ..operators.text import duplicated_spans

    d = _docs_spread(spark, sf_dir)
    return duplicated_spans(d, k=_SPAN_K).select(
        "doc_id",
        F.col("span_start").cast("int").alias("span_start"),
        F.col("span_end").cast("int").alias("span_end"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


# --- cross-source overlap matrix (r6) ------------------------------------------------
@register_local(
    "source_overlap_matrix",
    oracle=f"""
    WITH sh AS ({oracle_word_shingles(5)}),
    ss AS (
      SELECT DISTINCT d.source, sh.shingle_hash
      FROM sh JOIN documents d USING (doc_id)
    ), totals AS (
      SELECT source, count(*) AS n_sh FROM ss GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM ss a JOIN ss b
        ON a.shingle_hash = b.shingle_hash AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(n_shared / (ta.n_sh + tb.n_sh - n_shared), 6) AS jaccard
    FROM shared
    JOIN totals ta ON ta.source = source_a
    JOIN totals tb ON tb.source = source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every source pair, the
    count and Jaccard of shared distinct word 5-grams — the datasheet
    view that shows which ingestion sources leak into each other (a
    crawl re-hosting a wiki dump, two feeds syndicating the same wire).
    Plan shape: the per-(source, shingle) distinct is one corpus shuffle
    on the 60-bit hash; the self-join buckets are bounded by the SOURCE
    count per shingle (≤ n_sources rows each → ≤ n_sources² pair rows
    per shingle), so unlike document-level near-dup no stop-shingle cut
    is needed — the output and every join bucket scale with sources²,
    not corpus². Per-source totals ride the pair join as a window column
    (the ngram_jaccard_pairs idiom — no totals table, no join back); the
    a/b branches are identical subtrees, but exchange reuse did NOT
    dedup them at runtime (r13 measurement), so the shared (source,
    shingle, n_sh) table is checkpointed once below."""
    from ..operators.text import word_shingles

    # r12 A/B: _docs_spread measured neutral here (word_shingles spreads
    # the shingle pipeline itself) - plain scan kept.
    d = _docs(spark, sf_dir)
    sh = word_shingles(d, 5)
    ss = (
        sh.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "shingle_hash")
        .distinct()
        .withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("source"))
        )
        # r13 (VERDICT r12 #4, guide §3.3 plan truncation): the a/b
        # branches below are identical subtrees, but at runtime the
        # shingle→join→distinct→window chain was still computed twice
        # (measured). The lazy localCheckpoint materializes the
        # (source, shingle, n_sh) table once inside the timed region —
        # 24 bytes/row, strictly smaller than the exchange bytes a
        # second computation pays at any scale. Measured at sf0.1
        # (5-round alternating A/B, row-identical): 1.40 s → 0.53 s.
        .localCheckpoint(eager=False)
    )
    a = ss.select(
        F.col("source").alias("source_a"),
        F.col("n_sh").alias("na"),
        "shingle_hash",
    )
    b = ss.select(
        F.col("source").alias("source_b"),
        F.col("n_sh").alias("nb"),
        "shingle_hash",
    )
    shared = (
        a.join(b, "shingle_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.try_divide(
        F.col("n_shared"), F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return shared.select(
        "source_a",
        "source_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round(jac, 6).alias("jaccard"),
    )


# --- incremental data card via mergeable partials (r6) -------------------------------
_CARD_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source, lang,
             len({_TOKS}) AS n_tokens,
             md5(text) AS text_md5,
             round(LEAST(len({_TOKS}) / 50.0, 1.0) * 0.5
                   + (1.0 - len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL})))
                       / len({_TOKS})) * 0.5, 6) AS q
      FROM documents
    ), dupes AS (
      SELECT text_md5 FROM base GROUP BY text_md5 HAVING count(*) > 1
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           CAST(sum(CASE WHEN base.text_md5 IN (SELECT text_md5 FROM dupes)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs,
           round(CAST(sum(CAST(q AS DECIMAL(28,15))) AS DOUBLE)
                 / count(*), 9) AS mean_quality
    FROM base GROUP BY source
    """


@register_local("incremental_stats_card", oracle=_CARD_ORACLE)
def incremental_stats_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card maintained INCREMENTALLY: docs with doc_id % 5 == 4
    play a freshly-ingested delta (the dedup_incremental_minhash
    convention); the at-rest corpus and the delta each produce MERGEABLE
    partial state — per-(source) sums/counts, a per-(source, lang) count
    table, and a per-(text_md5, source) count table — and the refreshed
    card derives from the MERGED state alone. Neither slice's TEXT is
    rescanned at merge time: tokenization/quality/md5 run once per slice,
    and the merge is a union + re-aggregate of compacted state (state
    sizes: sources, sources × langs, and distinct-docs rows — the md5
    table is the only corpus-scale state, the same table the exact-dedup
    MERGE path already maintains). The oracle recomputes the card from
    the whole corpus from scratch — the hash match proves the merge
    algebra (sums, counts, decimal quality totals, window-derived dup
    exposure) is lossless, the same contract as sketch_merge_rollup but
    exact. Defensive post-union repartition per the SCALE.md r5
    union-partitioning note."""
    d = _docs(spark, sf_dir)
    at_rest = _card_partials(d.filter(F.col("doc_id") % 5 != 4))
    delta = _card_partials(d.filter(F.col("doc_id") % 5 == 4))
    return _card_from_partials(spark, [at_rest, delta])


def _card_partials(slice_df: DataFrame):
    """Mergeable data-card state for one corpus slice: per-source sums,
    per-(source, lang) counts, per-(text_md5, source) counts."""
    b = slice_df.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.md5("text").alias("text_md5"),
        quality_score(F.col("text")).alias("q"),
    )
    per_source = b.groupBy("source").agg(
        F.count(F.lit(1)).alias("p_docs"),
        F.sum("n_tokens").alias("p_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("p_en"),
        F.sum(F.col("q").cast("decimal(28,15)")).alias("p_q"),
    )
    lang_counts = b.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("p_n")
    )
    md5_counts = b.groupBy("text_md5", "source").agg(
        F.count(F.lit(1)).alias("p_n")
    )
    return per_source, lang_counts, md5_counts


def _card_from_partials(spark: SparkSession, parts) -> DataFrame:
    """Derive the card from MERGED partial-state tables (union +
    re-aggregate — no text rescan). `parts` is a list of
    (per_source, lang_counts, md5_counts) triples."""
    from functools import reduce

    sc = spark.sparkContext
    u = lambda i: reduce(lambda x, y: x.unionByName(y), [p[i] for p in parts])
    per_source = (
        u(0)
        .repartition(sc.defaultParallelism, "source")
        .groupBy("source")
        .agg(
            F.sum("p_docs").alias("n_docs"),
            F.sum("p_tokens").alias("s_tokens"),
            F.sum("p_en").alias("s_en"),
            F.sum("p_q").alias("s_q"),
        )
    )
    # NULL-lang state rows stay in the partials (they still carry doc
    # counts) but must not count toward n_langs: the batch card uses
    # countDistinct and the oracle count(DISTINCT lang), both of which
    # ignore NULLs.
    langs = (
        u(1)
        .filter(F.col("lang").isNotNull())
        .repartition(sc.defaultParallelism, "source", "lang")
        .groupBy("source", "lang")
        .agg(F.sum("p_n").alias("n"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_langs"))
    )
    # Same NULL discipline as the batch card's _dup flag: NULL-text docs
    # share the NULL md5 key and must not read as mutual duplicates.
    md5s = (
        u(2)
        .filter(F.col("text_md5").isNotNull())
        .repartition(sc.defaultParallelism, "text_md5")
        .groupBy("text_md5", "source")
        .agg(F.sum("p_n").alias("n"))
    )
    dup_per_source = (
        md5s.withColumn(
            "tot", F.sum("n").over(Window.partitionBy("text_md5"))
        )
        .filter(F.col("tot") > 1)
        .groupBy("source")
        .agg(F.sum("n").alias("n_exact_dup_docs"))
    )
    return (
        per_source.join(langs, "source", "left")
        .join(dup_per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            F.col("s_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_langs"), F.lit(0)).alias("n_langs"),
            F.col("s_en").cast("bigint").alias("n_en"),
            F.coalesce(F.col("n_exact_dup_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
            F.round(
                F.col("s_q").cast("double") / F.col("n_docs"), 9
            ).alias("mean_quality"),
        )
    )


@register_local("streaming_stats_card_parity", oracle=_CARD_ORACLE)
def streaming_stats_card_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE datasheet: the documents fixture replays as 3 micro-
    batches; each batch compacts to the same mergeable partial state as
    `incremental_stats_card` (per-source sums, (source, lang) counts,
    (md5, source) counts) and APPENDS it to the at-rest state dirs —
    per-tick work is delta-sized, text is scanned once, at tick time.
    The card then derives from the accumulated state alone (union +
    re-aggregate), and the full-corpus-recompute oracle hash-proves the
    whole chain: per-batch compaction, append accounting, and merge
    algebra. This is how a 100 TB pipeline keeps its release datasheet
    current while ingesting — the stats twin of the streaming near-dup
    and SemDeDup parities."""
    from ..streaming.ingest import replay

    names = ("state_source", "state_lang", "state_md5")

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        for part, name in zip(_card_partials(batch_df), names):
            part.write.mode("append").parquet(f"{scratch}/{name}")

    def finish(scratch: str) -> DataFrame:
        state = [tuple(spark.read.parquet(f"{scratch}/{n}") for n in names)]
        return _card_from_partials(spark, state)

    return replay(spark, _docs(spark, sf_dir), "doc_id", per_batch, finish)


# --- the training-data pipeline END TO END (r7) ---------------------------------------
# Every stage exists as its own audited, oracle-checked query; this
# registers the COMPOSITION — crawl-ready corpus in, training-ready
# context windows out, ONE Catalyst DAG with no driver round-trips —
# because "a user could run the whole pipeline" should itself be a
# hash-checked fact, not an inference from the parts. Clean (lang +
# quality) → exact dedup (min-doc_id winner per md5) → token-weighted
# systematic sample (k=64, integer-exact) → overlapping 32/24 context
# windows, md5-fingerprinted.
_E2E_K = 64


@register(
    "training_pipeline_e2e",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text,
             {_lang_score_sql(LANG_MARKERS["en"])} AS s_en,
             {_lang_score_sql(LANG_MARKERS["es"])} AS s_es,
             {_lang_score_sql(LANG_MARKERS["zh"])} AS s_zh,
             len({_TOKS}) AS n_tokens,
             len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL}))) AS n_stop
      FROM documents
    ), clean AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
                    WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS pl,
               round(LEAST(n_tokens / 50.0, 1.0) * 0.5
                     + (1.0 - n_stop / n_tokens) * 0.5, 6) AS q
        FROM s
      ) WHERE pl = 'en' AND q >= 0.55
    ), winner AS (
      SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)
    ), kept AS (
      SELECT c.doc_id, c.text FROM clean c
      JOIN winner w ON c.doc_id = w.doc_id
    ), dl AS (
      SELECT doc_id, text, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM kept
    ), c AS (
      SELECT doc_id, text, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      FROM dl
    ), t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM dl),
    sel AS (
      SELECT doc_id, text FROM c CROSS JOIN t
      WHERE ((2*{_E2E_K}*cum + total) // (2*total))
          > ((2*{_E2E_K}*(cum - n_tokens) + total) // (2*total))
    ), toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             unnest(range(1, len({_TOKS}) + 1)) AS pos
      FROM sel
    ), fanned AS (
      SELECT doc_id, pos, tok,
             unnest(range(
               CASE WHEN pos <= 32 THEN 0
                    ELSE (pos - 32 + 24 - 1) // 24 END,
               (pos - 1) // 24 + 1)) AS window_id
      FROM toks
    )
    SELECT doc_id, CAST(window_id AS INT) AS window_id,
           CAST(window_id * 24 + 1 AS INT) AS win_start,
           CAST(count(*) AS INT) AS n_win_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS window_md5
    FROM fanned GROUP BY doc_id, window_id
    """,
)
def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE DAG: language-ID + quality
    filter → exact dedup (min-doc_id winner per md5) → token-weighted
    systematic sample (k=64; integer-exact — the selection cannot drift
    across engines or layouts) → overlapping 32-token/stride-24 context
    windows with md5-fingerprinted bytes. The output is what a trainer
    ingests; every intermediate stage is also registered standalone
    (clean_corpus_pipeline, dedup_exact_documents,
    token_weighted_systematic_sample, doc_context_windows), so a failure
    here bisects against the parts.

    Scale shape: the stages compose WITHOUT materialization barriers —
    clean is a narrow map; the dedup winner is one md5-keyed aggregate +
    a doc_id semi-join; the sample is the distributed two-pass prefix
    sum + a broadcast 1-row total; the windows fan out in the same
    doc-keyed shuffle the position window needs. No collect anywhere;
    Catalyst sees the whole pipeline and prunes `text` until the
    tokenize that needs it."""
    from ..operators.packing import prefix_sum
    from ..operators.text import (
        context_windows,
        predict_lang,
        quality_score,
        tokens,
    )

    d = _docs_spread(spark, sf_dir)
    clean = (
        d.select(
            "doc_id",
            "text",
            predict_lang(F.col("text")).alias("pl"),
            quality_score(F.col("text")).alias("q"),
        )
        .filter((F.col("pl") == "en") & (F.col("q") >= 0.55))
        .select("doc_id", "text")
    )
    winner = clean.groupBy(F.md5("text").alias("m")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # r13 (guide §3.3 plan truncation): `kept` feeds the prefix-sum
    # pass, the 1-row token total AND the sampled join — and each
    # consumer re-ran the lang-ID/quality scoring chain (exchange reuse
    # deduped none of them). Two changes, A/B'd together at sf0.1
    # (4-round alternating, row-identical): (1) rebuild the survivors
    # from the RAW scan joined to the winner ids (winner ids already
    # passed the filters, doc_id is unique — identical rows, no second
    # scoring pass); (2) lazily materialize the survivor table once
    # inside the timed region — it is a post-filter SUBSET of the
    # corpus, so one materialization is strictly cheaper than the ~3
    # corpus-wide recomputations it replaces. 1.86 s → 1.08 s (−42%;
    # the rewrite alone measured neutral — the checkpoint is what
    # truncates the fan-out).
    kept = (
        d.select("doc_id", "text")
        .join(winner.select("doc_id"), "doc_id")
        .localCheckpoint(eager=False)
    )
    dl = kept.select(
        "doc_id",
        "text",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    c = prefix_sum(
        dl.select("doc_id", "n_tokens"), "doc_id", "n_tokens", "cum"
    )
    tot = dl.agg(F.sum("n_tokens").alias("total"))
    k = _E2E_K
    g_hi = F.expr(f"(2*{k}*cum + total) DIV (2*total)")
    g_lo = F.expr(f"(2*{k}*(cum - n_tokens) + total) DIV (2*total)")
    sel = (
        c.crossJoin(F.broadcast(tot))
        .filter(g_hi > g_lo)
        .select("doc_id")
    )
    sampled = kept.join(sel, "doc_id")
    return context_windows(sampled, size=32, stride=24).select(
        "doc_id",
        F.col("window_id").cast("int").alias("window_id"),
        F.col("win_start").cast("int").alias("win_start"),
        "n_win_tokens",
        F.md5("window_text").alias("window_md5"),
    )
