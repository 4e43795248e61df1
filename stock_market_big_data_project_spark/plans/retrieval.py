"""Round-7 corpus-scoring queries: BM25 multi-query lexical retrieval,
hashed-LM perplexity quality bucketing (the CCNet recipe), temperature-
sampled training-mix allocation, and the registered form of the BPE
encoder (trainer → apply, closing the tokenizer loop).

These extend the reference's collected-but-never-analyzed text surface
(twitter/main.py:11-28, OP-68) the same way plans/training.py does: each
is an operator a 100 TB training-data pipeline runs between "crawl" and
"tokenize". `tfidf_search_topk` (plans/training.py) answers ONE fixed
query with an ln-free idf; `bm25_retrieval_topk` generalizes it to a
BATCH of data-derived queries with the BM25 saturation + length
normalization that lexical retrieval actually uses. `dsir_importance_
weights` scores documents against a target-vs-raw ratio LM;
`perplexity_quality_buckets` scores them against the target LM alone —
the Wenzek et al. (2020) CCNet head/middle/tail split. `unimax_source_
allocation` is the cap-at-1-epoch mix; `temperature_sampling_mix` is the
n^alpha alternative (mT5/mC4), registered so a user can compare both
allocations on the same corpus.

Exactness contract: log/pow are libm functions whose last ulp differs
across engines (the `top10_significant_lineitems` precedent), so every
log/pow-valued quantity is rounded BEFORE any cross-row arithmetic —
per-term scores round to 12dp and then sum as exact decimals (order-
independent), and rankings compare the decimal sums, never raw doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import cosine_topk
from ..operators.text import md5_hash64, oracle_md5_hash64, tokens
from ..sources.tables import load_table
from .llm import _TOKS, _VECS
from .registry import register, register_local


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- BM25 batch retrieval ------------------------------------------------------------
# k1 = 1.2, b = 0.75 (the Robertson/Sparck-Jones defaults). The query
# workload is user-supplied and CONSTANT-SIZE in a real deployment; the
# stand-in derives up to 20 queries from the corpus itself (first 3
# tokens of docs with doc_id % 25 == 1, capped at doc_id <= 500) — the
# cap keeps the query table SF-invariant, so broadcasting it is safe at
# any corpus size (the r6 broadcast-hint-hygiene rule: never hint a
# data-proportional side).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 5


# The BM25 CTE chain (to ranked list `r`), shared textually with the
# bm25_retrieval_topk oracle's structure — see _bm25_ranked for the Spark
# twin. Kept as a function so the fused oracle and any future consumer
# take the SAME text.
def _bm25_oracle_ctes() -> str:
    return f"""
    t AS (
      SELECT doc_id, len({_TOKS}) AS dl, unnest({_TOKS}) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, tok, count(*) AS tf FROM t GROUP BY 1, 2, 3
    ), q AS (
      SELECT DISTINCT doc_id AS query_id, unnest(({_TOKS})[1:3]) AS tok
      FROM documents WHERE doc_id % 25 = 1 AND doc_id <= 500
    ), cand AS (
      SELECT tf.doc_id, tf.dl, tf.tok, tf.tf, q.query_id
      FROM tf JOIN q USING (tok)
    ), dfq AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM cand GROUP BY 1
    ), tot AS (
      SELECT count(*) AS n_docs, CAST(SUM(len({_TOKS})) AS BIGINT) AS sum_dl
      FROM documents
    ), terms AS (
      SELECT query_id, cand.doc_id,
             CAST(round(
               ln(1 + (tot.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (cand.tf * ({_BM25_K1} + 1))
               / (cand.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * cand.dl
                     / (CAST(tot.sum_dl AS DOUBLE) / tot.n_docs))),
               12) AS DECIMAL(38,12)) AS term
      FROM cand JOIN dfq USING (tok) CROSS JOIN tot
    ), s AS (
      SELECT query_id, doc_id, SUM(term) AS s_dec
      FROM terms GROUP BY 1, 2
    ), r AS (
      SELECT query_id, doc_id, s_dec,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s_dec DESC, doc_id) AS rank
      FROM s
    )
    """



@register_local(
    "bm25_retrieval_topk",
    oracle=f"""
    WITH {_bm25_oracle_ctes()}
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
           round(CAST(s_dec AS DOUBLE), 9) AS bm25
    FROM r WHERE rank <= {_BM25_K}
    """,
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 per query over a batch of queries — the lexical half of
    a retrieval stack (the embedding half is the IVF/PQ family in
    operators/similarity.py). Okapi BM25 with k1=1.2, b=0.75: per-term
    idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), idf = ln(1+(N−df+0.5)/
    (df+0.5)).

    Exactness: ln's last ulp is libm-dependent, so each TERM score is
    rounded to 12dp and cast to decimal(38,12); per-(query, doc) scores
    sum as exact decimals (order-independent across partitions), and the
    ranking compares the decimal sums with a doc_id tie-break — bit-
    deterministic given the 12dp terms, which hold to ~1e-16 relative.

    Scale shape: ONE corpus tokenize feeds the (doc, token) tf aggregate;
    the constant-size query-token table broadcasts onto it, so only
    candidate rows (docs sharing a query token) survive past the probe.
    df comes from the candidates themselves (a query token's df is
    countable from cand because cand holds EVERY (doc, tok) pair for
    query tokens), so no second corpus aggregate; N and Σdl come from a
    1-row narrow-scan aggregate (no shuffle). The candidate table is
    localCheckpoint'd once for its two consumers (df rollup + scoring) —
    the DSIR "stage the compacted table, not the corpus" idiom. Top-k is
    a window partitioned BY QUERY — parallel across queries, never a
    global sort."""
    return (
        _bm25_ranked(spark, sf_dir, _BM25_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.round(F.col("s_dec").cast("double"), 9).alias("bm25"),
        )
    )


def _bm25_ranked(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(query_id, doc_id, s_dec, rank ≤ k): the BM25 scoring pipeline
    shared by `bm25_retrieval_topk` (k=5 output) and the RRF fusion
    (k=10 lexical list) — one definition so the two can never drift."""
    d = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    # r12 A/B: a doc_id repartition before this explode (the
    # word_shingles pattern) measured SLOWER here (bm25 0.96 -> 1.34 s,
    # rrf 2.0 -> 3.6 s at sf0.1) — the partial aggregate collapses the
    # token stream before the exchange, so the serial explode is cheap
    # and the extra checkpoint-side partitions cost more than they save.
    # Kept un-spread deliberately.
    base = d.select(
        "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("tok")
    )
    tf = base.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    q = _bm25_queries(d)
    tot = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("sum_dl"),
    )
    return _bm25_from_index(tf, q, tot, k)


def _bm25_queries(d: DataFrame) -> DataFrame:
    """(query_id, tok): the SF-invariant data-derived query workload."""
    toks = tokens(F.col("text"))
    return (
        d.filter((F.col("doc_id") % 25 == 1) & (F.col("doc_id") <= 500))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(toks, 1, 3)).alias("tok"),
        )
        .distinct()
    )


def _bm25_from_index(
    tf: DataFrame, q: DataFrame, tot: DataFrame, k: int
) -> DataFrame:
    """BM25 scoring from an AT-REST index: ``tf`` is the postings table
    (doc_id, dl, tok, tf), ``q`` the query tokens, ``tot`` the 1-row
    (n_docs, sum_dl) corpus stats. Shared by the from-scratch batch path
    (`_bm25_ranked`) and the incrementally-maintained index
    (`streaming_bm25_index_parity`) — the scoring arithmetic has exactly
    one definition, so the streamed index is proven by construction to
    feed the identical formula."""
    cand = tf.join(F.broadcast(q), "tok").localCheckpoint(eager=True)
    dfq = cand.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
    )
    terms = (
        cand.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "query_id",
            "doc_id",
            F.round(term, 12).cast("decimal(38,12)").alias("term"),
        )
    )
    s = terms.groupBy("query_id", "doc_id").agg(F.sum("term").alias("s_dec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("s_dec"), "doc_id")
    return s.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# --- hashed-LM perplexity quality buckets ---------------------------------------------
# CCNet (Wenzek et al. 2020) scores every document against a target-
# domain LM and splits the corpus at the scored percentiles into
# head/middle/tail quality tiers. Target LM here: add-1-smoothed hashed
# unigram frequencies from the lang='en' slice (the same zero-vocabulary
# 256-bucket trick as DSIR/doc_feature_hashing; CCNet's KenLM 5-gram is
# out of container scope). Bucket thresholds are DATA-DERIVED, as in
# Wenzek et al.: exact 33rd/67th percentiles of the scored corpus,
# computed relationally with the ks_drift_matrix ECDF machinery — a
# window over the DISTINCT 9dp-rounded score grid (value-bounded, never
# the corpus) picks the smallest score whose cumulative count reaches
# ceil(33·N/100) / ceil(67·N/100), in integer arithmetic. A sketch
# (`percentile_approx`) is what CCNet would run at 100 TB but is not
# bit-exact cross-engine; the `perplexity_buckets_approx` twin below
# keeps that path registered rows-only to document the divergence.
_PPL_B = 256


@register(
    "perplexity_quality_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents
    ), fb AS (
      SELECT doc_id, lang,
             {oracle_md5_hash64("'ppl:' || tok")} % {_PPL_B} AS b
      FROM t
    ), nb AS (
      SELECT doc_id, lang, b, count(*) AS c FROM fb GROUP BY 1, 2, 3
    ), lm AS (
      SELECT b, SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS c_t
      FROM nb GROUP BY 1
    ), tot AS (
      SELECT SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS n_t FROM nb
    ), lnp AS (
      SELECT b, CAST(round(
               ln(CAST(lm.c_t + 1 AS DOUBLE) / (tot.n_t + {_PPL_B})), 12)
             AS DECIMAL(14,12)) AS lnp
      FROM lm CROSS JOIN tot
    ), sc AS (
      SELECT nb.doc_id,
             SUM(CAST(nb.c AS DECIMAL(10,0)) * lnp.lnp) AS s_dec,
             CAST(SUM(nb.c) AS BIGINT) AS n_toks
      FROM nb JOIN lnp USING (b) GROUP BY 1
    ), r AS (
      SELECT doc_id, n_toks,
             round(-CAST(s_dec AS DOUBLE) / n_toks, 9) AS avg_nll
      FROM sc
    ), grid AS (
      SELECT avg_nll AS v, count(*) AS c FROM r GROUP BY 1
    ), ecdf AS (
      SELECT v, sum(c) OVER (ORDER BY v) AS cum,
             (SELECT count(*) FROM r) AS n
      FROM grid
    ), th AS (
      SELECT min(CASE WHEN cum >= (33 * n + 99) // 100 THEN v END) AS th1,
             min(CASE WHEN cum >= (67 * n + 99) // 100 THEN v END) AS th2
      FROM ecdf
    )
    SELECT doc_id, n_toks, avg_nll,
           CASE WHEN avg_nll <= th1 THEN 'head'
                WHEN avg_nll <= th2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           th1 AS theta_head, th2 AS theta_middle
    FROM r CROSS JOIN th
    """,
)
def perplexity_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity against the target-domain LM, bucketed
    head/middle/tail (CCNet). avg_nll = −(Σ_tok ln p(bucket(tok)))/n_toks
    with p(b) = (c_en(b)+1)/(n_en+256). The head/middle cutoffs are the
    corpus's own exact 33rd/67th percentiles (Wenzek et al. derive them
    from the scored data, not constants) — emitted as theta_head /
    theta_middle columns so the derivation itself is hash-certified at
    every SF.

    Exactness: ln p takes only ≤256 DISTINCT values (one per hash
    bucket), so the log is evaluated once per BUCKET, rounded to 12dp,
    and cast to decimal; each document's Σ is then decimal × integer-
    count — exact and order-independent — with ONE double division at
    the end (rounded to 9dp). Stronger than rounding per token: the
    cross-engine surface is 256 libm calls, not one per corpus token.
    The decimal types are deliberately tight — lnp decimal(14,12) ×
    count decimal(10,0) → decimal(25,12), exact: a bigint ×
    decimal(38,12) product overflows precision 38, and both engines
    degrade SILENTLY (Spark reduces the scale, DuckDB promotes to
    double), observed as ~1e-8 divergence before this sizing.

    Scale shape (the DSIR lesson, plans/training.py): ONE corpus pass
    builds the compacted (doc, lang, bucket) counts, localCheckpoint'd
    for its two consumers (LM rollup + scoring join); the LM is ≤256
    rows — broadcast — so the corpus never shuffles again after the
    feature explode. Docs with zero tokens have no nb rows and drop out
    (no NULL-division path). The percentile pass follows ks_drift_matrix:
    the ECDF window runs over the DISTINCT 9dp score grid (one count
    aggregate of the scored table, then a grid-sized window), and the two
    cutoffs broadcast back as a 1-row cross join — the corpus itself is
    never globally sorted."""
    r = _ppl_scores(spark, sf_dir)
    th = _exact_percentile_cutoffs(r)
    return _ppl_bucketed(r, th)


def _ppl_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHECKPOINTED per-doc score table (doc_id, n_toks, avg_nll) —
    shared by the exact-cutoff query and the percentile_approx twin so
    the sketch path never executes the exact ECDF (and vice versa)."""
    sc_ = spark.sparkContext
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "text")
        .repartition(sc_.defaultParallelism, "doc_id")
    )
    exploded = base.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    fb = exploded.select(
        "doc_id",
        "lang",
        F.pmod(
            md5_hash64(F.concat(F.lit("ppl:"), F.col("tok"))), F.lit(_PPL_B)
        ).alias("b"),
    )
    nb = (
        fb.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    is_t = F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0))
    lm = nb.groupBy("b").agg(F.sum(is_t).alias("c_t"))
    tot = nb.agg(F.sum(is_t).alias("n_t"))
    lnp = (
        lm.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.col("c_t") + 1).cast("double")
                    / (F.col("n_t") + _PPL_B)
                ),
                12,
            )
            .cast("decimal(14,12)")
            .alias("lnp"),
        )
    )
    sc = (
        nb.join(F.broadcast(lnp), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c").cast("decimal(10,0)") * F.col("lnp")).alias(
                "s_dec"
            ),
            F.sum("c").cast("long").alias("n_toks"),
        )
    )
    nll = -F.col("s_dec").cast("double") / F.col("n_toks")
    # the scored table has two consumers (the percentile grid and the
    # bucketed output) — materialize it once, like nb above; this is the
    # doc-level score table CCNet persists anyway
    return sc.select(
        "doc_id", "n_toks", F.round(nll, 9).alias("avg_nll")
    ).localCheckpoint(eager=True)


def _ppl_bucketed(r: DataFrame, th: DataFrame) -> DataFrame:
    """Bucket the scored table with a 1-row (th1, th2) cutoff frame —
    one definition shared by the exact and sketch variants."""
    return r.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_toks",
        "avg_nll",
        F.when(F.col("avg_nll") <= F.col("th1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("th2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
        F.col("th1").alias("theta_head"),
        F.col("th2").alias("theta_middle"),
    )


def _exact_percentile_cutoffs(df: DataFrame) -> DataFrame:
    """Exact percentile cutoffs as a 1-row frame (th1, th2, …): the
    smallest value whose ascending cumulative count reaches
    ceil(p·N/100), integer arithmetic throughout. The ECDF window runs
    over the DISTINCT value grid (one aggregate + a grid-sized window),
    never the corpus — the ks_drift_matrix pattern."""
    grid = df.groupBy(F.col("avg_nll").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    n1 = df.agg(F.count(F.lit(1)).alias("n"))
    ecdf = (
        grid.select("v", F.sum("c").over(w).alias("cum"))
        .crossJoin(F.broadcast(n1))
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) DIV 100"), F.col("v")
            )
        ).alias(f"th{i + 1}")
        for i, p in enumerate((33, 67))
    ]
    return ecdf.agg(*aggs)


@register_local("perplexity_buckets_approx")  # no oracle BY DESIGN: the
# cutoffs come from percentile_approx — a mergeable sketch whose
# estimates are not bit-exact cross-engine. This is the form CCNet runs
# at 100 TB (one sketch pass instead of the exact distinct-grid ECDF);
# registering it rows-only documents the sketch-vs-exact divergence the
# hash-checked twin above avoids.
def perplexity_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`perplexity_quality_buckets` with sketch-derived cutoffs:
    percentile_approx(avg_nll, [0.33, 0.67]) replaces the exact ECDF.
    Same scoring pipeline, same output shape; only the theta derivation
    differs (sketch estimate vs exact rank statistic)."""
    r = _ppl_scores(spark, sf_dir)
    th = r.agg(
        F.percentile_approx("avg_nll", [0.33, 0.67], 10000).alias("ths")
    ).select(
        F.col("ths")[0].alias("th1"), F.col("ths")[1].alias("th2")
    )
    return _ppl_bucketed(r, th)


# --- temperature-sampled training mix -------------------------------------------------
_TEMP_ALPHA = 0.3


@register_local(
    "temperature_sampling_mix",
    oracle=f"""
    WITH tok AS (
      SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_tokens,
             POWER(n_tokens, {_TEMP_ALPHA})
               / SUM(POWER(n_tokens, {_TEMP_ALPHA})) OVER () AS wr,
             (19 * SUM(n_tokens) OVER ()) // 20 AS budget
      FROM tok
    )
    SELECT source, n_tokens,
           round(wr, 9) AS weight,
           CAST(floor(round(budget * wr, 3)) AS BIGINT) AS alloc_tokens,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE round(budget * wr / n_tokens, 6) END AS epochs
    FROM w
    """,
)
def temperature_sampling_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled training-mix allocation (the mT5/mC4 recipe):
    source weights ∝ n_tokens^α with α=0.3, against the same 19/20-of-
    corpus token budget as `unimax_source_allocation` — registering both
    lets a user diff the two mixes on one corpus (UniMax caps at 1 epoch;
    temperature sampling happily oversamples small sources, visible in
    the epochs column).

    Exactness: pow's last ulp is libm-dependent (the reason UniMax chose
    the integer waterfill), so every pow-derived output is rounded —
    weight to 9dp, the token allocation as floor(round(budget·w, 3)) (the
    round pins the value before the floor can amplify a last-ulp
    difference across an integer boundary), epochs to 6dp with an
    explicit zero-token guard (NULL, matching SQL).

    Scale shape: identical to UniMax — the corpus-sized work is ONE
    per-source token aggregate; the weighting runs windowed over the
    per-source table (one row per source, driver-size by construction).
    Feeds `token_weighted_systematic_sample` to realize each source's
    quota, like the waterfill does."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    pw = F.pow(F.col("n_tokens").cast("double"), F.lit(_TEMP_ALPHA))
    wr = pw / F.expr(
        f"sum(power(cast(n_tokens as double), {_TEMP_ALPHA})) over ()"
    )
    budget = F.expr("(19 * sum(n_tokens) over ()) div 20")
    staged = counts.select(
        "source",
        "n_tokens",
        wr.alias("wr"),
        budget.alias("budget"),
    )
    return staged.select(
        "source",
        "n_tokens",
        F.round(F.col("wr"), 9).alias("weight"),
        F.floor(F.round(F.col("budget") * F.col("wr"), 3))
        .cast("long")
        .alias("alloc_tokens"),
        F.when(
            F.col("n_tokens") == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(F.col("budget") * F.col("wr") / F.col("n_tokens"), 6)
        )
        .alias("epochs"),
    )


# --- BPE encode (trainer → apply, registered) -----------------------------------------
def _bpe_oracle(n_merges: int = 12) -> str:
    """DuckDB re-derivation of the WHOLE BPE loop — trainer AND apply —
    so `bpe_apply_encode` gets a full hash oracle (VERDICT r7 #8) even
    though the merge list is data-derived (and therefore different at
    every SF; it cannot be interpolated as constants).

    plans/training.py::_bpe_merges_oracle composes the same trainer rounds
    into the merge TABLE (round, pair, merged, total) — the r9 oracle for the
    previously rows-only `bpe_learn_merges` (VERDICT r8 #5).

    The trainer unrolls as n_merges chained CTE rounds: pair counts over
    the double-space-encoded word table, argmax (max total, then lexico-
    graphically smallest pair — the trainer's exact tie rule), one merge
    pass. The merge itself uses a DOUBLE-SPACE symbol encoding
    ('  a  b  </w>  ') so plain non-overlapping replace() IS the greedy
    left-to-right merge: every match consumes exactly one space of each
    2-space boundary and the replacement re-emits it, so back-to-back
    occurrences all merge (' a  a  a  a  a ' → aa aa a) without the
    lookarounds Spark uses — RE2 (DuckDB's regex engine) has none.

    Every CTE is AS MATERIALIZED: each round's word table is referenced
    twice (next round's pair counts + merge), so an inlining planner
    re-evaluates the chain 2^rounds times — measured >500 s inlined vs
    0.2 s materialized at sf0.001."""
    parts = [
        r"""
    WITH wp AS MATERIALIZED (
      SELECT doc_id, tok AS word, pos
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS tok,
               unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1)) AS pos
        FROM documents
      ) WHERE tok != ''
    ), w0 AS MATERIALIZED (
      SELECT word, count(*) AS n,
             '  ' || array_to_string(
                       list_append(string_split(word, ''), '</w>'), '  ')
                  || '  ' AS s
      FROM wp GROUP BY word
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(f"""
    , p{r} AS MATERIALIZED (
      SELECT pair, sum(n) AS total FROM (
        SELECT n, unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i + 1])) AS pair
        FROM (SELECT n, string_split(trim(s), '  ') AS toks FROM w{r - 1})
      ) GROUP BY 1
    ), b{r} AS MATERIALIZED (
      SELECT pair, total,
             ' ' || split_part(pair, ' ', 1) || '  '
                 || split_part(pair, ' ', 2) || ' ' AS pat,
             ' ' || replace(pair, ' ', '') || ' ' AS rep
      FROM p{r} ORDER BY total DESC, pair LIMIT 1
    ), w{r} AS MATERIALIZED (
      SELECT word, n,
             CASE WHEN b.pat IS NULL THEN s
                  ELSE replace(s, b.pat, b.rep) END AS s
      FROM w{r - 1} LEFT JOIN b{r} b ON TRUE
    )""")
    parts.append(f"""
    , vocab AS MATERIALIZED (
      SELECT word, string_split(trim(s), '  ') AS toks FROM w{n_merges}
    )
    SELECT wp.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.toks)) AS BIGINT) AS n_subword_tokens,
           md5(string_agg(array_to_string(v.toks, ' '), ' '
                          ORDER BY wp.pos)) AS encoding_md5
    FROM wp JOIN vocab v USING (word)
    GROUP BY 1""")
    return "".join(parts)


@register("bpe_apply_encode", oracle=_bpe_oracle(12))
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the other half of the BPE loop: learn 12 merges
    on the corpus (operators/bpe.py::train_bpe), then encode every
    document with them and roll up per doc: word count, subword-token
    count, and an md5 fingerprint of the full space-joined encoding (word
    order preserved), so the rows-only driver check still pins the exact
    segmentation bytes.

    Scale shape: the merge table is vocabulary-bounded and ships in the
    plan as literals; `apply_bpe` is a pure narrow map after the word
    explode (chained regexp_replace — codegen, no Python, no shuffle), so
    encoding cost is one corpus pass. The per-doc rollup re-assembles
    word order with sort_array(collect_list(struct(pos, tokens))) under
    ONE doc-keyed shuffle. At 100 TB the learned merges come off the
    at-rest trainer output (operators/stats.py's model sink); re-learning
    here keeps the registered query self-contained."""
    from ..operators.bpe import segment_words, train_bpe

    d = _docs(spark, sf_dir)
    merges = [
        (r["pair"], r["merged"])
        for r in train_bpe(d, n_merges=12).collect()
    ]
    # r12: spread the single-split scan before the positional explode +
    # per-doc rollup (guide §2.5 unsplittable input) — the 270k-row word
    # stream, the vocab join and the order-preserving collect_list all
    # inherit the partitioning. r13 (VERDICT r12 #2): size-conditional
    # via the byte guard — a multi-split scan at real scale skips the
    # extra full-row exchange.
    from ..operators.spread import rebalance_for_compute

    wp = rebalance_for_compute(d).select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "word"),
    )
    # r12: segment the DISTINCT word table, not every corpus instance —
    # the merge chain is a pure function of the word, so the chained
    # regexps run |vocab| times (31 at sf0.1) instead of per instance
    # (270k), and the resulting (word → tokens) map joins back onto the
    # positioned word stream exactly as the instance-wise dedup did.
    enc_vocab = segment_words(wp.select("word").distinct(), merges)
    joined = wp.join(enc_vocab, "word")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("bpe_tokens")).cast("long").alias("n_subword_tokens"),
        F.md5(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "bpe_tokens"))
                        ),
                        lambda s: s["bpe_tokens"],
                    )
                ),
                " ",
            )
        ).alias("encoding_md5"),
    )
    return per_doc.select(
        "doc_id", "n_words", "n_subword_tokens", "encoding_md5"
    )


# --- hybrid retrieval: reciprocal-rank fusion (r7) -------------------------------------
# RRF (Cormack et al. 2009): fuse the lexical (BM25) and semantic (exact
# cosine) rankings per query by score(d) = Σ_lists 1/(C + rank_list(d)),
# C = 60 — the standard hybrid-search combiner (rank-based, so it needs no
# score calibration between the two systems). Both input lists are top-10;
# the fused output is top-5.
_RRF_C = 60
_RRF_IN_K = 10
_RRF_OUT_K = 5

@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH {_bm25_oracle_ctes()},
    {_VECS},
    cdots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(sum(CAST(CAST(a.val AS DOUBLE) * CAST(b.val AS DOUBLE)
                           AS DECIMAL(18,15))) AS DOUBLE) AS dot
      FROM v a JOIN v b ON a.d = b.d AND a.vec_id != b.vec_id
      WHERE a.vec_id % 25 = 1 AND a.vec_id <= 500
      GROUP BY 1, 2
    ), cosr AS (
      SELECT query_id, neighbor_id AS doc_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY dot / (sqrt(na.norm2) * sqrt(nb.norm2)) DESC,
                          neighbor_id) AS rank
        FROM cdots
        JOIN norms na ON na.vec_id = query_id
        JOIN norms nb ON nb.vec_id = neighbor_id
      ) WHERE rank <= {_RRF_IN_K}
    ), bmr AS (
      SELECT query_id, doc_id, rank FROM r WHERE rank <= {_RRF_IN_K}
    ), fused AS (
      SELECT query_id, doc_id, b.rank AS r_bm, c.rank AS r_cos
      FROM bmr b FULL JOIN cosr c USING (query_id, doc_id)
    ), scored AS (
      SELECT query_id, doc_id, r_bm, r_cos,
             COALESCE(CAST(1 AS DOUBLE) / ({_RRF_C} + r_bm), 0)
           + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_C} + r_cos), 0) AS rrf
      FROM fused
    ), ranked AS (
      SELECT query_id, doc_id, r_bm, r_cos, rrf,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf DESC, doc_id) AS fused_rank
      FROM scored
    )
    SELECT query_id, CAST(fused_rank AS INT) AS fused_rank, doc_id,
           round(rrf, 9) AS rrf_score,
           CAST(r_bm AS INT) AS bm25_rank, CAST(r_cos AS INT) AS cos_rank
    FROM ranked WHERE fused_rank <= {_RRF_OUT_K}
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion: per
    query, BM25 top-10 and exact-cosine top-10 (over the aligned
    embeddings table) fuse by Σ 1/(60+rank), fused top-5 out. The fused
    rows keep both source ranks (NULL when a doc appears in only one
    list) so a user can see which system surfaced each hit.

    Exactness: RRF is rank arithmetic — 1/(60+r) for integer r is one
    IEEE correctly-rounded division (not libm), and the fusion sum is a
    single addition of two such terms, so scores are bit-identical
    cross-engine with no rounding staging needed. Both input rankings are
    already bit-deterministic (decimal BM25 sums; decimal-exact cosine).

    Scale shape: the two retrieval legs are the audited pipelines
    (`_bm25_ranked`: candidate-probe + per-query window;
    `cosine_topk`: broadcast-query Arrow matmul prescreen + decimal
    rescore, corpus never shuffles). Fusion itself touches only the two
    top-10 lists — ≤ 20·queries rows — one full-outer equi-join + one
    per-query window, driver-scale regardless of corpus size. The
    embedding leg runs on the CONSTANT query set, so at 100 TB the
    brute-force leg is the sampled-eval form; swap in ivf_probe_topk for
    the production path (identical output columns)."""
    bm = _bm25_ranked(spark, sf_dir, _RRF_IN_K).select(
        "query_id", "doc_id", F.col("rank").alias("r_bm")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter((F.col("vec_id") % 25 == 1) & (F.col("vec_id") <= 500))
    cos = cosine_topk(emb, qv, k=_RRF_IN_K).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_cos"),
    )
    fused = bm.join(cos, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("r_bm")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("r_cos")), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= _RRF_OUT_K)
        .select(
            "query_id",
            F.col("fused_rank").cast("int").alias("fused_rank"),
            "doc_id",
            F.round("rrf", 9).alias("rrf_score"),
            F.col("r_bm").cast("int").alias("bm25_rank"),
            F.col("r_cos").cast("int").alias("cos_rank"),
        )
    )


# --- streaming retrieval-index maintenance (r7) ----------------------------------------
@register_local(
    "streaming_bm25_index_parity",
    oracle=f"""
    WITH {_bm25_oracle_ctes()}
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
           round(CAST(s_dec AS DOUBLE), 9) AS bm25
    FROM r WHERE rank <= {_BM25_K}
    """,
)
def streaming_bm25_index_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval index maintained on the LIVE append path: the corpus
    replays as 3 doc_id-range micro-batches; each batch appends its
    delta's postings (doc_id, dl, tok, tf), per-doc stats (doc_id, dl),
    and newly-registered query tokens to at-rest state dirs — per-tick
    index work is DELTA-sized (one narrow tokenize + one delta-keyed
    aggregate), the existing index is never rescanned. After the replay,
    BM25 top-5 is scored from the maintained index through the SAME
    `_bm25_from_index` used by the batch query, and the full-corpus
    oracle hash-checks it — proving streamed maintenance ≡ from-scratch
    index build.

    Why per-batch postings are globally correct: micro-batches partition
    the corpus BY DOCUMENT (doc_id ranges), so each doc's (tok, tf) rows
    are computed entirely within its own batch — the appended union IS
    the global postings table (the streaming_near_dup_parity argument).
    Corpus stats (N, Σdl) re-derive from the docstats state, which is
    one row per doc — zero-token docs included, keeping N identical to
    the batch count(*). At 100 TB the postings state lives tok-bucketed
    so the query-token probe is a bucket-pruned equi-join."""
    from ..streaming.ingest import replay

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        queries_dir = f"{scratch}/state_queries"
        if batch_id == 0:
            # seed queries so a workload-free replay still reads back
            spark.createDataFrame([], "query_id long, tok string").write.mode(
                "overwrite"
            ).parquet(queries_dir)
        delta = batch_df.select("doc_id", "text")
        toks = tokens(F.col("text"))
        (
            delta.select(
                "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("tok")
            )
            .groupBy("doc_id", "dl", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
            .write.mode("append")
            .parquet(f"{scratch}/state_postings")
        )
        delta.select("doc_id", F.size(toks).alias("dl")).write.mode(
            "append"
        ).parquet(f"{scratch}/state_docstats")
        _bm25_queries(delta).write.mode("append").parquet(queries_dir)

    def finish(scratch: str) -> DataFrame:
        tf = spark.read.parquet(f"{scratch}/state_postings")
        queries = spark.read.parquet(f"{scratch}/state_queries")
        tot = spark.read.parquet(f"{scratch}/state_docstats").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        return _bm25_from_index(tf, queries, tot, _BM25_K).select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.round(F.col("s_dec").cast("double"), 9).alias("bm25"),
        )

    return replay(spark, _docs(spark, sf_dir), "doc_id", per_batch, finish)


# --- unigram-LM tokenizer (r7) ---------------------------------------------------------
@register_local("unigram_lm_segment")  # no oracle BY DESIGN: the piece
# probabilities come from the iterative EM trainer (the k-means/BPE
# declaration); the strong checks are the EXACT pure-Python EM
# differential, the monotone-likelihood EM guarantee, and the Viterbi
# segmentation differential in tests/test_unigram.py.
def unigram_lm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SentencePiece-style unigram-LM tokenizer end to end (Kudo
    2018): seed an over-complete piece vocabulary from substring counts,
    fit piece probabilities by EM over each word's segmentation lattice,
    prune to the target vocabulary (single chars kept for coverage),
    then Viterbi-segment every document and roll up per doc: word count,
    piece count, and an md5 of the full segmentation bytes in word order
    — the rows-only driver check pins the exact segmentation.

    Scale shape (operators/unigram.py): the corpus-sized work is ONE
    word-count aggregate; EM rounds run Arrow-batched over the
    vocabulary-bounded word table with the piece table in the closure
    (per-word lattice DP), and expected counts cross words through
    decimal 12dp-rounded sums — the whole trainer is layout/rerun-
    invariant. Segmentation reuses the distinct-word table (one Arrow
    pass) and joins back onto the positioned word stream under ONE
    doc-keyed shuffle (the bpe_apply_encode shape)."""
    from ..operators.unigram import (
        train_unigram,
        unigram_segment_words,
        word_counts,
    )

    d = _docs(spark, sf_dir)
    wc = word_counts(d).localCheckpoint(eager=True)
    logp, _ = train_unigram(d, seed_size=60, vocab_size=48, n_iters=3, words=wc)
    seg = unigram_segment_words(wc, logp)
    wp = d.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "word"),
    )
    joined = wp.join(seg, "word")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_subword_pieces"),
        F.md5(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "pieces"))
                        ),
                        lambda s: s["pieces"],
                    )
                ),
                " ",
            )
        ).alias("segmentation_md5"),
    )


# --- tokenizer fertility comparison (r7) -----------------------------------------------
@register_local("tokenizer_fertility_compare")  # no oracle BY DESIGN:
# both subword segmentations come from the iterative trainers (BPE
# merges / unigram EM); the strong check is the pure-Python recompute
# from the two reference segmenters in tests/test_retrieval.py.
def tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer DECISION loop: train BPE (12 merges) and the
    unigram LM (48 pieces) on the same corpus and compare fertility —
    subword units per word — plus corpus-level unit counts, one row per
    tokenizer (whitespace baseline fertility ≡ 1). Fertility is THE
    number a tokenizer choice is made on (lower = cheaper training for
    the same text); registering the comparison makes it a query, not a
    notebook.

    Scale shape: both trainers are the audited vocabulary-bounded loops;
    the comparison itself re-segments only the DISTINCT word table (two
    vocab-bounded passes) and weights by word counts — one aggregate,
    no new corpus pass."""
    from ..operators.bpe import segment_words, train_bpe
    from ..operators.unigram import (
        train_unigram,
        unigram_segment_words,
        word_counts,
    )

    d = _docs(spark, sf_dir)
    wc = word_counts(d).localCheckpoint(eager=True)
    merges = [
        (r["pair"], r["merged"])
        for r in train_bpe(d, n_merges=12).collect()
    ]
    # r12: the docstring's "re-segments only the DISTINCT word table" is
    # now literal for BPE too — the merge chain runs over wc's words
    # (word_counts uses the identical trim/split/non-empty tokenization
    # as the old corpus-wide apply, so the joined (word, n_units) rows
    # are unchanged), matching the unigram leg's vocab-scoped shape.
    bpe_seg = segment_words(wc, merges).select(
        "word", F.size("bpe_tokens").alias("n_units")
    )
    logp, _ = train_unigram(d, seed_size=60, vocab_size=48, n_iters=3, words=wc)
    uni_seg = unigram_segment_words(wc, logp).select(
        "word", F.col("n_pieces").alias("n_units")
    )

    def rollup(seg: DataFrame, name: str) -> DataFrame:
        j = wc.join(seg, "word")
        return j.agg(
            F.lit(name).alias("tokenizer"),
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_units")).cast("long").alias(
                "n_units"
            ),
            F.round(
                F.sum(F.col("n") * F.col("n_units"))
                / F.sum("n").cast("double"),
                6,
            ).alias("fertility"),
        )

    ws = wc.agg(
        F.lit("whitespace").alias("tokenizer"),
        F.sum("n").cast("long").alias("n_words"),
        F.sum("n").cast("long").alias("n_units"),
        F.lit(1.0).alias("fertility"),
    )
    return ws.unionByName(rollup(bpe_seg, "bpe_12")).unionByName(
        rollup(uni_seg, "unigram_48")
    )
