"""Deduplication operators (SURVEY.md §7 Phase 5 — the dedup family a
100 TB training-data pipeline needs).

All four are compositions of built-in DataFrame ops — no UDFs — so they
scale as ordinary shuffles:

- exact:       one hash aggregate on md5(text)
- n-gram Jaccard: shingle-hash inverted index + self-equi-join (the standard
                  candidate-pair plan; the join key is a 60-bit int)
- MinHash+LSH: k deterministic permutation hashes → banded signature →
               bucket equi-join (candidates meet in a band bucket instead of
               an O(n²) cross join)
- SimHash:     64-bit sign fingerprint of token-hash bit votes

Determinism: every hash derives from md5 (text.md5_hash64), every
permutation is an affine map mod 1e9+7 — bit-identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.tables import DOC_ID
from .text import exploded_tokens, md5_hash64, word_shingles

MOD = 1_000_000_007  # permutation modulus: keeps a_i * h + b_i inside int64

# Near-dup settings of every dedup query: word 3-gram shingles cut at
# Jaccard 0.3, and 60-bit SimHash fingerprints matched within Hamming
# distance 3 through 4 bands (a pair 3 bits apart agrees on some band).
JACCARD_NGRAM = 3
JACCARD_THRESHOLD = 0.3
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_MAX_DIST = 3


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: (md5(text), kept=min(id), n_copies). One hash aggregate
    with map-side combine — the cheapest possible dedup at any scale."""
    return df.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min(DOC_ID).alias("kept_id"), F.count(F.lit(1)).alias("n_copies")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_doc_frac: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

    shingles(a) self-join on shingle_hash (id_a < id_b) → shared counts;
    |A∪B| = |A| + |B| − shared. Jaccard arithmetic is integer-exact.

    Each doc's shingle count is attached to every shingle row by a window
    count (reusing the doc-partitioned exchange the shingling itself needs),
    so n_a/n_b ride through the candidate join and the old sizes-table
    branch — a third full recompute of the shingle pipeline plus two extra
    joins — disappears.

    Hot shingles (common phrases) are the skew risk: a shingle shared by m
    docs makes an m² candidate bucket in the self-join. ``max_doc_frac``
    drops shingles whose document frequency exceeds that fraction of the
    corpus BEFORE the join (stop-shingle cut): one extra map-side-combined
    agg on shingle_hash plus a broadcast anti-join against the (by
    construction tiny) hot list — no window sort, no extra big shuffle.
    Jaccard is then computed over the filtered shingle sets (both numerator
    and denominators), so the semantics stay a true set Jaccard. On a
    corpus with no hot shingles the output is row-identical to the
    unfiltered form (tests/test_skew.py).
    """
    sh = word_shingles(df, JACCARD_NGRAM)
    if max_doc_frac is not None:
        ndocs = df.select(F.count(F.lit(1)).alias("_ndocs"))
        hot = (
            sh.groupBy("shingle_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .crossJoin(F.broadcast(ndocs))
            .filter(F.col("_df") > F.col("_ndocs") * F.lit(max_doc_frac))
            .select("shingle_hash")
        )
        sh = sh.join(F.broadcast(hot), "shingle_hash", "left_anti")
    sh = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy(DOC_ID)))
    # No checkpoint here: the a/b branches are identical subtrees below
    # their exchanges, so Spark's ReuseExchange computes the shingle
    # pipeline once already — measured: a localCheckpoint only ADDS its
    # materialization cost (2.0 s → 2.5 s warm, +1.8 s cold at sf0.1).
    a = sh.select(
        F.col(DOC_ID).alias("id_a"), F.col("n_sh").alias("n_a"), "shingle_hash"
    )
    b = sh.select(
        F.col(DOC_ID).alias("id_b"), F.col("n_sh").alias("n_b"), "shingle_hash"
    )
    shared = (
        a.join(b, on="shingle_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        # n_a/n_b are functionally dependent on the ids — grouping by them
        # adds no groups and saves a join back to a sizes table
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.try_divide(
        F.col("shared"), F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_on_candidates(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact set-Jaccard restricted to a candidate pair list — the verify
    step of the LSH dedup chain (candidates → exact rescore → clusters).

    ``sh`` is the inverted shingle index (id, shingle_hash; distinct per
    doc), ``cand`` the (id_a, id_b) candidates. Unlike the full self-join in
    `ngram_jaccard_pairs`, the work here is proportional to the CANDIDATE
    volume (two equi-joins keyed on doc id / (doc id, shingle)), not to the
    corpus pair space — at 100 TB the banded-LSH candidate list is the only
    thing that ever meets the shingle stream. Pairs with zero shared
    shingles drop out of the join — Jaccard 0, below any threshold.
    """
    sized = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy(DOC_ID)))
    a = sized.select(
        F.col(DOC_ID).alias("id_a"), F.col("n_sh").alias("n_a"), "shingle_hash"
    )
    b = sized.select(
        F.col(DOC_ID).alias("id_b"), F.col("n_sh").alias("n_b"), "shingle_hash"
    )
    shared = (
        # distinct is a correctness precondition, enforced here rather than
        # assumed: a duplicated (id_a, id_b) row would multiply `shared`
        # while n_a/n_b stay fixed — Jaccard > 1 and false-positive pairs.
        # Cheap relative to the shingle joins it feeds.
        cand.select("id_a", "id_b")
        .distinct()
        .join(a, "id_a")
        .join(b, ["id_b", "shingle_hash"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.try_divide(
        F.col("shared"), F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, n: int = 5, k: int = 32) -> DataFrame:
    """(id, i, mh): k permutation minima per doc.

    h_i(s) = ((2i+1)·(s mod M) + 7919·i) mod M over shingle hashes s —
    deterministic affine permutations, no RNG state to ship to executors.

    All k minima come from ONE groupBy(doc) with k min-aggregates over the
    shingle stream (map-side combinable: the shuffle carries one k-wide
    partial row per doc, not shingles×k exploded rows), then an explode of
    the k-wide row into the (id, i, mh) long format — k× less data through
    the wire than permuting after an explode.
    """
    sh = word_shingles(df, n)

    def perm(i: int):
        return F.min(
            ((2 * i + 1) * (F.col("shingle_hash") % MOD) + 7919 * i) % MOD
        ).alias(f"_mh_{i}")

    wide = sh.groupBy(DOC_ID).agg(*[perm(i) for i in range(k)])
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("i"), F.col(f"_mh_{i}").alias("mh"))
                for i in range(k)
            ]
        )
    ).alias("s")
    return wide.select(DOC_ID, stacked).select(
        DOC_ID, F.col("s.i").alias("i"), F.col("s.mh").alias("mh")
    )


def band_bucket_histogram(
    banded: DataFrame, bucket_cols: list[str]
) -> DataFrame:
    """Bucket-occupancy histogram for any banded candidate structure:
    (bucket_size, n_buckets, candidate_pairs = n_buckets·size·(size−1)/2).

    THE pre-flight skew check for every LSH family here (MinHash bands,
    SimHash bands, embedding hyperplane bands): candidate volume is
    Σ size² over buckets, so one hot bucket is quadratic before any join
    runs. This aggregate costs one map-side-combined groupBy over the
    banded rows — run it (or assert on it, tests/test_skew.py) BEFORE
    paying the self-join, and pick `max_bucket` from its tail.
    """
    sizes = banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("bucket_size"))
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .withColumn(
            "candidate_pairs",
            F.col("n_buckets")
            * (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("bigint"),
        )
        .orderBy(F.desc("bucket_size"))
    )


def _drop_hot_buckets(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int
) -> DataFrame:
    """Drop rows of buckets with > max_bucket members: the same
    broadcast-anti-join shape as the stop-shingle cut — one
    map-side-combined agg builds the (by construction tiny) hot-bucket
    list, so the bound costs no extra big shuffle."""
    hot = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_sz"))
        .filter(F.col("_sz") > max_bucket)
        .select(*bucket_cols)
    )
    return banded.join(F.broadcast(hot), bucket_cols, "left_anti")


def minhash_banded(sig: DataFrame, bands: int = 8, rows: int = 4) -> DataFrame:
    """(id, band, band_hash): the banded MinHash signature. band_hash
    folds the band's `rows` minima positionally (Σ mh·31^(i mod r) — exact
    in int64 since mh < 1e9+7 and 31³ < 3e4); the positional weights are
    an exact integer CASE (libm pow is not exact). Shared by
    `lsh_candidate_pairs` and the bucket-histogram tests so the banding
    scheme has exactly one definition."""
    weight = F.when(F.col("i") % rows == 0, 1)
    for r in range(1, rows):
        weight = weight.when(F.col("i") % rows == r, 31**r)
    return sig.groupBy(
        DOC_ID, (F.col("i") / rows).cast("int").alias("band")
    ).agg(F.sum(F.col("mh") * weight.cast("bigint")).alias("band_hash"))


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = 8,
    rows: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature and equi-join on (band, band_hash).

    band_hash folds the band's `rows` minima positionally (Σ mh·31^(i mod r)
    — exact in int64 since mh < 1e9+7 and 31³ < 3e4). Pairs sharing ≥1 band
    come out with their shared-band count; this equi-join IS the scale story:
    candidates meet in hash buckets, never in a cross join.

    ``max_bucket`` is the skew guardrail: a band bucket holding m docs (an
    m-way exact-duplicate cluster, or a degenerate band) contributes m²/2
    candidates — quadratic before the join emits a row. With the cap, hot
    buckets are dropped via a broadcast anti-join (candidates then bounded
    by buckets·max_bucket²/2 — tests/test_skew.py exercises an adversarial
    corpus). Dropping a bucket can only lose candidate RECALL for pairs
    whose every agreeing band is hot — exact duplicates are better served
    by `exact_dedup_groups` first, which is why the cap is sane. Off by
    default: the oracle-checked queries keep the uncapped semantics;
    `band_bucket_histogram` makes the tail visible so the cap can be
    chosen from data.
    """
    # r13 (guide §3.3 plan truncation / §8 decide with small rows): the
    # a/b sides below are identical subtrees, but runtime exchange reuse
    # does not dedup them — the whole shingle→signature→banding pipeline
    # executed twice. The banded signature is the SMALL proxy
    # (bands rows × 16 bytes per doc), so one lazy materialization
    # inside the timed region is strictly cheaper than the second
    # pipeline pass at any scale. Measured at sf0.1 (4-round alternating
    # A/B, row-identical): dedup_minhash_lsh 0.585 → 0.457 s (−22%).
    # (The same probe on the ngram-Jaccard chain checkpointed the FULL
    # shingle stream — the corpus-sized expansion, not a proxy — and
    # measured +44%; that chain keeps its unmaterialized form, see
    # ngram_jaccard_pairs.)
    # Fault tolerance: localCheckpoint keeps its blocks only on the
    # executors that computed them and drops the lineage, so on a cluster
    # losing one of those executors makes `banded` unrecoverable and the
    # query fails instead of recomputing. Accepted here because `banded`
    # is a per-query intermediate: the cost is a rerun, never a wrong
    # result. A deployment that cannot afford the rerun needs a reliable
    # `checkpoint()` (checkpoint dir on shared storage) at this line.
    banded = minhash_banded(sig, bands, rows).localCheckpoint(eager=False)
    if max_bucket is not None:
        banded = _drop_hot_buckets(banded, ["band", "band_hash"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col(f"a.{DOC_ID}") < F.col(f"b.{DOC_ID}"))
        .groupBy(
            F.col(f"a.{DOC_ID}").alias("id_a"), F.col(f"b.{DOC_ID}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


def incremental_lsh_candidates(
    banded_full: DataFrame,
    banded_delta: DataFrame,
    delta_in_full: bool = True,
) -> DataFrame:
    """Candidate pairs TOUCHING a corpus delta: the incremental form of
    `lsh_candidate_pairs` for an append-mostly 100 TB corpus. The at-rest
    banded signature table never self-joins again — only the delta's band
    keys probe it, so candidate work is Θ(|delta| × bucket), not
    Θ(|corpus| × bucket), and the full table side is a plain bucketed
    equi-join probe (on a (band, band_hash)-bucketed layout: no shuffle of
    the existing table at all).

    ``delta_in_full`` states WHERE the delta rows live and picks the
    plan accordingly (ADVICE r4: with the default probe alone, two new
    documents duplicating *each other* are silently missed when the
    delta has not been merged yet):

    - ``True`` (default — PRECONDITION: delta ⊆ banded_full, i.e. the
      delta has already been appended/merged into the at-rest table):
      the single probe join finds every delta-touching pair, including
      delta-delta pairs (the partner row is in the full table).
    - ``False`` (the live append path: delta is freshly ingested, NOT
      yet in the at-rest table): a delta×delta self-join term is
      unioned in so new-vs-new duplicates are still found. The extra
      term is Θ(|delta| × bucket) — delta-sized, never corpus-sized.

    Pairs are normalized (id_a < id_b); a delta-delta pair matches from
    both sides, so shared bands are counted DISTINCT (in the full
    pipeline each shared band contributes exactly one join row, so the
    count is identical — and the union of probe + self-join terms can
    never double-count a band)."""
    a, b = banded_full.alias("a"), banded_delta.alias("d")
    lo = F.least(F.col(f"a.{DOC_ID}"), F.col(f"d.{DOC_ID}"))
    hi = F.greatest(F.col(f"a.{DOC_ID}"), F.col(f"d.{DOC_ID}"))
    pairs = (
        b.join(a, ["band", "band_hash"])
        .filter(F.col(f"a.{DOC_ID}") != F.col(f"d.{DOC_ID}"))
        .select(lo.alias("id_a"), hi.alias("id_b"), "band")
    )
    if not delta_in_full:
        d1, d2 = banded_delta.alias("a"), banded_delta.alias("d")
        self_pairs = (
            d1.join(d2, ["band", "band_hash"])
            .filter(F.col(f"a.{DOC_ID}") < F.col(f"d.{DOC_ID}"))
            .select(
                F.col(f"a.{DOC_ID}").alias("id_a"),
                F.col(f"d.{DOC_ID}").alias("id_b"),
                "band",
            )
        )
        pairs = pairs.unionByName(self_pairs)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.countDistinct("band").alias("shared_bands"))
    )


def simhash_hamming_pairs(
    fp: DataFrame,
    id_col: str,
    fp_col: str = "simhash",
    bits: int = 60,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via a banded hamming join.

    The 60-bit fingerprint is split into ``SIMHASH_BANDS`` disjoint prefixes
    (4×15 bits). By pigeonhole, two fingerprints within hamming distance
    ``SIMHASH_MAX_DIST`` < ``SIMHASH_BANDS`` agree on at least one whole band, so an
    equi-join on (band, band_key) finds EVERY qualifying pair — recall is
    exact, not probabilistic — while candidates meet in hash buckets
    instead of an O(n²) cross join. Survivors are verified with
    ``bit_count(a XOR b) <= SIMHASH_MAX_DIST``.

    The differential oracle is the brute-force all-pairs hamming join —
    equality proves the banding loses nothing.

    ``max_bucket`` (off by default) is the skew guardrail: m identical
    fingerprints — an exact-duplicate cluster — put m rows in each of
    their 4 buckets, m²/2 candidates. The cap drops hot buckets via a
    broadcast anti-join, bounding candidates at the cost of the
    pigeonhole exactness for pairs whose every agreeing band is hot (run
    `exact_dedup_groups` first; `band_bucket_histogram` shows the tail).
    """
    width = bits // SIMHASH_BANDS
    mask = (1 << width) - 1
    banded = fp.select(
        F.col(id_col),
        F.col(fp_col).alias("_fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.shiftright(F.col(fp_col), t * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for t in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "_fp", "bk.band", "bk.band_key")
    if max_bucket is not None:
        banded = _drop_hot_buckets(banded, ["band", "band_key"], max_bucket)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("_fp").alias("_fp_a"), "band", "band_key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("_fp").alias("_fp_b"), "band", "band_key"
    )
    joined = a.join(b, ["band", "band_key"]).filter(F.col("id_a") < F.col("id_b"))
    xor = F.col("_fp_a").bitwiseXOR(F.col("_fp_b"))
    dist = F.bit_count(xor).cast("int")
    if max_bucket is None:
        # Single-shuffle candidate tier (r13, guide §2.4 remove shuffles
        # outright): a pair colliding in several bands used to be deduped
        # by a `.distinct()` — a SECOND full exchange of every candidate
        # row. But band-t agreement is a pure row-local function of the
        # two fingerprints (the xor's band-t window is all-zero), so each
        # pair can instead be emitted exactly once FROM ITS LOWEST
        # AGREEING BAND: keep the join row only when no earlier band's
        # xor window is zero. Same verify, same output rows, one exchange
        # fewer at any scale. (The capped path below keeps the distinct:
        # _drop_hot_buckets can remove a pair's lowest agreeing band, so
        # the row-local rule would change WHICH capped pairs survive.)
        no_earlier = F.lit(True)
        first_band = F.when(F.col("band") == 0, F.lit(True))
        for t in range(1, SIMHASH_BANDS):
            prev_window_nonzero = (
                F.shiftright(xor, (t - 1) * width).bitwiseAND(F.lit(mask)) != 0
            )
            no_earlier = no_earlier & prev_window_nonzero
            first_band = first_band.when(F.col("band") == t, no_earlier)
        return (
            joined.filter(first_band & (dist <= SIMHASH_MAX_DIST))
            .select("id_a", "id_b", dist.alias("hamming_dist"))
        )
    cand = (
        # a pair can collide in several bands — dedup before the verify
        joined.select("id_a", "id_b", "_fp_a", "_fp_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming_dist", dist)
        .filter(F.col("hamming_dist") <= SIMHASH_MAX_DIST)
        .select("id_a", "id_b", "hamming_dist")
    )


def simhash_fingerprints(df: DataFrame) -> DataFrame:
    """60-bit SimHash: per bit position j, documents vote sign((h>>j)&1);
    fingerprint sets bit j when the vote is positive. 60 bits (not 64) keeps
    the fingerprint a positive bigint in both engines.

    One groupBy(doc) with `SIMHASH_BITS` conditional-sum aggregates (map-side
    combinable) instead of exploding every token ×bits — the shuffle carries
    one partial-agg row per doc, not tokens×bits vote rows."""
    # Non-coalescible doc-keyed repartition BEFORE the tokenize explode
    # (r12 — the word_shingles pattern, guide §2.4/§2.5): it satisfies
    # the vote aggregate's ClusteredDistribution, replacing the implicit
    # post-explode exchange 1:1, and spreads the compute-bound
    # tokenize + 60-conditional-sum partial aggregate off the one scan
    # task a single-split source produces (measured 1.48 s -> spread at
    # sf0.1; the exchange moves (id, text) rows once either way).
    sc = df.sparkSession.sparkContext
    df = df.repartition(sc.defaultParallelism, DOC_ID)
    toks = exploded_tokens(df).select(DOC_ID, md5_hash64(F.col("tok")).alias("h"))
    vote = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bit_sums = toks.groupBy(DOC_ID).agg(*vote)
    fingerprint = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"_s{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return bit_sums.select(F.col(DOC_ID), fingerprint.alias("simhash"))
