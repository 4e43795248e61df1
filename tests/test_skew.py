"""Salting utilities are pure plan rewrites: row-identical to the unsalted
form on a deliberately skewed dataset (one key = 50% of rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.skew import (
    salted_join,
    two_stage_agg,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, half on key 0 — the hot-key shape
    big = spark.range(10_000).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("row_id"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    small = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("name")
    )
    return big, small


def test_salted_join_matches_plain(spark, skewed):
    big, small = skewed
    plain = big.join(small, "k").select("row_id", "name")
    salted = salted_join(big, small, "k", n_salts=8, salt_source="row_id").select(
        "row_id", "name"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_left_matches_plain(spark, skewed):
    big, small = skewed
    # left join with a small side missing some keys: unmatched big rows kept once
    part = small.filter(F.col("k") < 25)
    plain = big.join(part, "k", "left").select("row_id", "name")
    salted = salted_join(
        big, part, "k", n_salts=8, salt_source="row_id", how="left"
    ).select("row_id", "name")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_rejects_outer_modes(spark, skewed):
    big, small = skewed
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(big, small, "k", how=how)


def test_ngram_stop_shingle_cut_identity_when_no_hot(spark):
    # No shingle crosses the doc-frequency threshold -> filtered output is
    # row-identical to the unfiltered one.
    from stock_market_big_data_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "one two three four five six"),
            (4, "one two three four five seven"),
            (5, "totally unrelated words here now"),
        ],
        "doc_id long, text string",
    )
    plain = ngram_jaccard_pairs(docs, threshold=0.1)
    cut = ngram_jaccard_pairs(docs, threshold=0.1, max_doc_frac=0.9)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, cut.collect()))
    assert plain.count() > 0  # non-vacuous


def test_ngram_stop_shingle_cut_kills_hot_bucket(spark):
    # Every doc shares one hot phrase; otherwise all-unique. Unfiltered, the
    # hot shingle makes a quadratic candidate bucket (C(n,2) pairs at
    # threshold 0); with the cut the bucket disappears entirely.
    from stock_market_big_data_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    n_docs = 20
    docs = spark.createDataFrame(
        [
            (i, f"common hot phrase unique{i}a unique{i}b unique{i}c")
            for i in range(n_docs)
        ],
        "doc_id long, text string",
    )
    unfiltered = ngram_jaccard_pairs(docs, threshold=0.0)
    assert unfiltered.count() == n_docs * (n_docs - 1) // 2
    cut = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_frac=0.5)
    assert cut.count() == 0


def test_two_stage_agg_matches_plain(spark, skewed):
    big, _ = skewed
    plain = (
        big.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("sum_v"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    salted = two_stage_agg(big, ["k"], ["v"], n_salts=8, salt_source="row_id").collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def _dup_heavy_docs(spark, n_dups=40, n_unique=20):
    """Adversarial dedup corpus: one text duplicated n_dups times (every
    banded scheme puts all copies in the same buckets) + unique docs."""
    rows = [(i, "the exact same duplicated text payload here") for i in range(n_dups)]
    rows += [
        (n_dups + i, f"unique doc {i} with its own words alpha{i} beta{i} gamma{i}")
        for i in range(n_unique)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_candidates(spark):
    from stock_market_big_data_project_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _dup_heavy_docs(spark)
    sig = minhash_signatures(docs, n=3, k=32)
    uncapped = lsh_candidate_pairs(sig).count()
    assert uncapped >= 40 * 39 // 2  # the dup cluster alone is quadratic
    capped = lsh_candidate_pairs(sig, max_bucket=10).count()
    # hot buckets dropped -> the m^2 cluster never reaches the join
    assert capped <= 8 * 10 * 10  # bands x max_bucket^2 coarse bound
    assert capped < uncapped / 4


def test_simhash_bucket_cap_bounds_candidates(spark):
    from stock_market_big_data_project_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_hamming_pairs,
    )

    docs = _dup_heavy_docs(spark)
    fp = simhash_fingerprints(docs)
    uncapped = simhash_hamming_pairs(fp, "doc_id").count()
    assert uncapped >= 40 * 39 // 2
    capped = simhash_hamming_pairs(fp, "doc_id", max_bucket=10).count()
    assert capped <= 4 * 10 * 10
    assert capped < uncapped / 4


def test_band_bucket_histogram_exposes_hot_bucket(spark):
    """The histogram must price the skew BEFORE the join: the dup cluster
    shows up as a bucket of size 40 whose candidate_pairs column says
    40*39/2 — visible for the cost of one aggregate."""
    from stock_market_big_data_project_spark.operators.dedup import (
        band_bucket_histogram,
        minhash_banded,
        minhash_signatures,
    )

    docs = _dup_heavy_docs(spark)
    sig = minhash_signatures(docs, n=3, k=32)
    banded = minhash_banded(sig, bands=8, rows=4)
    hist = band_bucket_histogram(banded, ["band", "band_hash"]).collect()
    top = hist[0]
    # the dup cluster fills one size-40 bucket in each of the 8 bands;
    # the histogram prices them at 8 x C(40,2) raw candidate slots
    assert top.bucket_size == 40
    assert top.n_buckets == 8
    assert top.candidate_pairs == 8 * (40 * 39 // 2)


def test_distributed_prefix_sum_boundary_invariant(spark):
    """The two-pass prefix sum must equal the serial cumsum under ANY
    partition count (range boundaries are sampled, i.e. nondeterministic —
    the telescoping must hide that entirely)."""
    from pyspark.sql import Window
    from stock_market_big_data_project_spark.operators.packing import prefix_sum

    df = spark.range(1000).select(
        F.col("id").alias("k"), ((F.col("id") * 7919) % 101).alias("v")
    )
    serial = {
        r.k: r.cum
        for r in df.withColumn(
            "cum",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }
    for n_parts in (1, 7, 32):
        dist = {
            r.k: r.cum
            for r in prefix_sum(df, "k", "v", num_partitions=n_parts).collect()
        }
        assert dist == serial, n_parts


def test_prefix_sum_rejects_float_values(spark):
    """Float accumulation reorders under distribution — the operator must
    refuse it loudly, not silently truncate or reassociate."""
    from stock_market_big_data_project_spark.operators.packing import prefix_sum

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")
    )
    with pytest.raises(TypeError, match="integral"):
        prefix_sum(df, "k", "v")


# --- choose_salting: the crossover decision rule (r9) -----------------------


def test_choose_salting_thresholds():
    """The rule encodes bench.py's measured sweep: salting pays from ~5M
    rows at a ≥25%-hot key; below either threshold it returns 0."""
    from stock_market_big_data_project_spark.operators.skew import (
        SALTING_MIN_HOT_FRAC,
        SALTING_MIN_ROWS,
        choose_salting,
    )

    assert choose_salting(20_000_000, 0.5, n_salts=8) == 8
    assert choose_salting(SALTING_MIN_ROWS, SALTING_MIN_HOT_FRAC) == 16
    # small data: the sweep's 1M point showed salting is a wash/loss
    assert choose_salting(1_000_000, 0.5) == 0
    # no hot key: nothing for the salt to split
    assert choose_salting(50_000_000, 0.02) == 0
    assert choose_salting(SALTING_MIN_ROWS - 1, SALTING_MIN_HOT_FRAC) == 0
    assert choose_salting(SALTING_MIN_ROWS, SALTING_MIN_HOT_FRAC / 2) == 0


def test_n_salts_zero_degenerates_row_identical(spark, skewed):
    """choose_salting's 'don't' verdict (n_salts=0) routes both helpers to
    their plain forms — same rows, and the plan carries no salt column."""
    big, small = skewed
    plain_join = big.join(small, "k").sort("row_id").collect()
    routed = salted_join(
        big, small, "k", n_salts=0, salt_source="row_id"
    )
    assert "_salt" not in routed.columns
    assert routed.sort("row_id").collect() == plain_join

    plain_agg = (
        big.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_v"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .sort("k")
        .collect()
    )
    routed_agg = two_stage_agg(big, ["k"], ["v"], n_salts=0).sort("k")
    assert routed_agg.collect() == plain_agg
    assert two_stage_agg(big, ["k"], ["v"], n_salts=8).sort("k").collect() == plain_agg


def test_wedge_pairs_reads_only_node_and_part(spark):
    """Pair counts equal a pure-Python wedge count on a hub-part fixture,
    also for a wider input (extra columns, one named like an output
    column): only (node, part) take part in the self-join."""
    from collections import Counter

    from stock_market_big_data_project_spark.operators.graph import wedge_pairs

    # 600 incidences over 120 nodes x 40 parts; part 0 is a hub with
    # ~300 incidences (half the list), the rest single-digit degrees
    op = spark.range(600).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(1 + F.col("id") % 39)
        .alias("p"),
        (F.col("id") % 120).alias("c"),
    ).distinct()
    nodes_of = {}
    for r in op.collect():
        nodes_of.setdefault(r.p, []).append(r.c)
    want = Counter(
        (a, b) for cs in nodes_of.values() for a in cs for b in cs if a < b
    )
    wide = op.withColumn("w", F.lit(1.0)).withColumn("c2", F.col("c"))
    for frame in (op, wide):
        got = {(r.c1, r.c2): r.shared for r in wedge_pairs(frame).collect()}
        assert got == want
