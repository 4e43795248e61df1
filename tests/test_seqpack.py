"""FFD sequence packing (operators/packing.py::pack_sequences_ffd) —
rows-only by design (bin packing has no relational oracle), so every
contract is pinned here instead: pure-Python differential, exactly-once
coverage, capacity/offset invariants, partitioning invariance, and the
FFD-beats-first-fit-in-arrival-order bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.packing import (
    pack_sequences_ffd,
)
from stock_market_big_data_project_spark.operators.text import tokens
from stock_market_big_data_project_spark.sources.tables import load_table

from .conftest import SF_DIR

CAP = 128
SHARDS = 16


def _corpus(spark):
    return load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )


def _packed(spark, df=None):
    d = df if df is not None else _corpus(spark)
    return pack_sequences_ffd(d, capacity=CAP, n_shards=SHARDS).collect()


def _reference_ffd(rows, capacity):
    """Pure-Python FFD per shard: the spec the Arrow stage must match."""
    out = {}
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for rid, rlen, shard in rows:
        by_shard.setdefault(shard, []).append((rid, rlen))
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: (-min(r[1], capacity), r[0]))
        bins: list[int] = []
        for rid, rlen in docs:
            use = min(rlen, capacity)
            placed = next(
                (b for b, rem in enumerate(bins) if rem >= use), None
            )
            if placed is None:
                placed = len(bins)
                bins.append(capacity)
            out[rid] = (
                shard,
                (shard << 32) | placed,
                capacity - bins[placed],
                rlen > capacity,
            )
            bins[placed] -= use
    return out


def test_matches_python_reference_and_covers_corpus(spark):
    got = _packed(spark)
    corpus = {
        (r.doc_id, r.n_tokens) for r in _corpus(spark).collect()
    }
    # exactly-once coverage with faithful lengths
    assert {(r.doc_id, r.len) for r in got} == corpus
    assert len(got) == len(corpus)

    shards = {r.doc_id: r.shard for r in got}
    ref = _reference_ffd(
        [(d, l, shards[d]) for d, l in corpus], CAP
    )
    for r in got:
        assert ref[r.doc_id] == (r.shard, r.seq, r.offset, r.truncated), r


def test_capacity_and_offset_invariants(spark):
    got = _packed(spark)
    by_seq: dict[int, list] = {}
    for r in got:
        by_seq.setdefault(r.seq, []).append(r)
    for seq, members in by_seq.items():
        fill = sum(min(r.len, CAP) for r in members)
        assert fill <= CAP, (seq, fill)
        # offsets tile the sequence: sorted offsets are the prefix sums
        members.sort(key=lambda r: r.offset)
        expect = 0
        for r in members:
            assert r.offset == expect, (seq, r)
            expect += min(r.len, CAP)


def test_partitioning_invariance(spark):
    base = {(r.doc_id, r.seq, r.offset) for r in _packed(spark)}
    re3 = {
        (r.doc_id, r.seq, r.offset)
        for r in _packed(spark, _corpus(spark).repartition(3))
    }
    assert base == re3


def test_ffd_beats_arrival_order_first_fit(spark):
    got = _packed(spark)
    n_ffd = len({r.seq for r in got})
    # first-fit in doc_id arrival order (what a naive streaming packer does)
    shards = {}
    for r in sorted(got, key=lambda r: r.doc_id):
        shards.setdefault(r.shard, []).append(min(r.len, CAP))
    n_ff = 0
    for lens in shards.values():
        bins: list[int] = []
        for use in lens:
            placed = next((b for b, rem in enumerate(bins) if rem >= use), None)
            if placed is None:
                bins.append(CAP)
                placed = len(bins) - 1
            bins[placed] -= use
        n_ff += len(bins)
    assert n_ffd <= n_ff, (n_ffd, n_ff)


def test_oversize_doc_truncated_alone(spark):
    df = spark.createDataFrame(
        [(1, 500), (2, 60), (3, 60)], "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: r
        for r in pack_sequences_ffd(df, capacity=CAP, n_shards=1).collect()
    }
    assert got[1].truncated and got[1].offset == 0
    # the oversize doc fills its bin completely — nothing joins it
    assert {got[2].seq, got[3].seq} != {got[1].seq}
    assert got[2].seq == got[3].seq  # two 60s share one 128-bin
