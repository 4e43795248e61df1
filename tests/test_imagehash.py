"""Unit tests for perceptual image hashing (operators/imagehash.py) — the
image member of the dedup family. The end-to-end Spark query
(`image_dhash_near_dup`) is hash-checked by tests/test_oracle_parity.py;
these pin the dHash itself: a spec-literal differential, the brightness
invariance the fixture's planted near-dups rely on, banding completeness
(planted recall) on the real Spark pipeline, and the signed-64-bit packing
contract."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from stock_market_big_data_project_spark.operators.imagehash import (
    _near_dup_fixture_pixels,
    attach_near_dup_png_payload,
    dhash_from_pixels,
    dhash_images,
)
from stock_market_big_data_project_spark.operators.png import (
    decode_png,
    encode_png,
)


def _ref_dhash(arr: np.ndarray) -> int:
    """Independent scalar-loop dHash written straight from the definition
    (per-pixel block assignment, integer block means, row-wise gradient
    signs) — no numpy aggregation shared with the implementation."""
    a = arr.astype(int)
    if a.ndim == 3:
        luma = [
            [
                (299 * a[yy][xx][0] + 587 * a[yy][xx][1] + 114 * a[yy][xx][2])
                // 1000
                for xx in range(a.shape[1])
            ]
            for yy in range(a.shape[0])
        ]
    else:
        luma = a.tolist()
    h, w = len(luma), len(luma[0])
    sums = [[0] * 9 for _ in range(8)]
    cnts = [[0] * 9 for _ in range(8)]
    for yy in range(h):
        for xx in range(w):
            sums[yy * 8 // h][xx * 9 // w] += luma[yy][xx]
            cnts[yy * 8 // h][xx * 9 // w] += 1
    grid = [
        [sums[i][j] // cnts[i][j] if cnts[i][j] else 0 for j in range(9)]
        for i in range(8)
    ]
    v = 0
    k = 0
    for i in range(8):
        for j in range(8):
            if grid[i][j] < grid[i][j + 1]:
                v |= 1 << k
            k += 1
    return v - (1 << 64) if v >= 1 << 63 else v


@pytest.mark.parametrize("seed", range(6))
def test_dhash_differential_vs_definition(seed):
    rng = np.random.default_rng(seed)
    shape = (9 + seed, 8 + seed) if seed % 2 else (9 + seed, 8 + seed, 3)
    arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert dhash_from_pixels(arr) == _ref_dhash(arr)


def test_brightness_shift_invariance():
    """Uniform wrap-free brightness shifts never change the dHash — the
    invariance the planted fixture groups rely on."""
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 192, size=(10, 12, 3), dtype=np.uint8)
    base = dhash_from_pixels(arr)
    for v in (1, 16, 63):
        assert dhash_from_pixels(arr + np.uint8(v)) == base


def test_signed_packing_is_twos_complement():
    """Bit 63 set → negative BIGINT equal to the two's-complement value
    (what Spark/DuckDB columns carry)."""
    # gradient increasing everywhere → every diff bit set → hash == -1
    arr = np.tile(np.arange(0, 180, 10, dtype=np.uint8), (8, 1))
    assert arr.shape[1] == 18
    assert dhash_from_pixels(arr) == -1


def test_fixture_groups_share_hash_and_bases_separate():
    hs = {}
    for base in range(40):
        group = [
            dhash_from_pixels(_near_dup_fixture_pixels(base * 4 + k))
            for k in range(4)
        ]
        assert len(set(group)) == 1, f"base {base} variants diverge"
        hs[base] = group[0]
    dists = [
        bin((a ^ b) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(hs.values(), 2)
    ]
    assert min(dists) > 3, "cross-base images must not be near-dups"


def test_fixture_payloads_are_real_png():
    for d in (0, 1, 6, 7):
        px = _near_dup_fixture_pixels(d)
        assert np.array_equal(decode_png(encode_png(px)), px)


def test_planted_recall_on_spark(spark):
    """End-to-end on the real pipeline: every planted same-base pair (the
    ground truth, hamming 0 by construction) survives decode → dHash →
    banded join → verify; and every reported pair really is ≤ max_dist,
    cross-checked in numpy."""
    from stock_market_big_data_project_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    ids = spark.range(0, 80).withColumnRenamed("id", "doc_id")
    fp = dhash_images(attach_near_dup_png_payload(ids))
    pairs = simhash_hamming_pairs(fp, "doc_id", fp_col="dhash", bits=64)
    got = {(r.id_a, r.id_b): r.hamming_dist for r in pairs.collect()}
    planted = {
        (base * 4 + i, base * 4 + j)
        for base in range(20)
        for i, j in itertools.combinations(range(4), 2)
    }
    assert planted <= set(got), "planted near-dup pair missed"
    hs = {
        d: dhash_from_pixels(_near_dup_fixture_pixels(d)) for d in range(80)
    }
    for (a, b), dist in got.items():
        true = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        assert dist == true and dist <= 3
