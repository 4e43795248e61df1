"""Tests for audio near-dup via energy-envelope fingerprints
(operators/audiofp.py) — the third perceptual-dedup modality. The
end-to-end query (`audio_fingerprint_near_dup`) is hash-checked by
test_oracle_parity; these pin the fingerprint's definition, the volume
invariance the planted fixture relies on, and the full Spark pipeline's
recall/exactness."""

from __future__ import annotations

import itertools

import numpy as np

from stock_market_big_data_project_spark.operators.audiofp import (
    _near_dup_fixture_samples,
    attach_near_dup_wav_payload,
    audio_fingerprints,
    energy_fingerprint,
)
from stock_market_big_data_project_spark.operators.wav import (
    decode_wav,
    encode_wav,
)


def _ref_fp(ch0) -> int:
    """Scalar-loop reference straight from the definition."""
    s = [int(v) for v in ch0]
    e = [
        sum(x * x for x in s[f * 16 : (f + 1) * 16])
        for f in range(len(s) // 16)
    ]
    v = 0
    for k in range(64):
        if e[k] < e[k + 1]:
            v |= 1 << k
    return v - (1 << 64) if v >= 1 << 63 else v


def test_fingerprint_differential_vs_definition():
    rng = np.random.default_rng(9)
    for _ in range(5):
        s = rng.integers(-8000, 8000, size=1056, dtype=np.int16)
        assert energy_fingerprint(s) == _ref_fp(s)


def test_volume_scaling_invariance():
    """Uniform integer amplification never changes the fingerprint —
    energies scale by exactly k², preserving every gradient sign."""
    rng = np.random.default_rng(4)
    s = rng.integers(-2000, 2000, size=1056, dtype=np.int64)
    base = energy_fingerprint(s)
    for k in (2, 3, 4):
        assert energy_fingerprint(k * s) == base


def test_too_short_clip_rejected():
    import pytest

    with pytest.raises(ValueError, match="need"):
        energy_fingerprint(np.zeros(1000, dtype=np.int16))


def test_fixture_groups_share_fp_and_payloads_differ():
    for base in range(12):
        group = [
            energy_fingerprint(_near_dup_fixture_samples(base * 4 + j))
            for j in range(4)
        ]
        assert len(set(group)) == 1, f"base {base}"
    p0 = encode_wav(_near_dup_fixture_samples(0), 8000)
    p1 = encode_wav(_near_dup_fixture_samples(1), 8000)
    assert p0 != p1
    back, _ = decode_wav(p0)
    assert np.array_equal(back[:, 0], _near_dup_fixture_samples(0))


def test_planted_recall_on_spark(spark):
    ids = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    from stock_market_big_data_project_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    fp = audio_fingerprints(attach_near_dup_wav_payload(ids))
    got = {
        (r.id_a, r.id_b): r.hamming_dist
        for r in simhash_hamming_pairs(fp, "doc_id", fp_col="afp", bits=64).collect()
    }
    planted = {
        (b * 4 + i, b * 4 + j)
        for b in range(16)
        for i, j in itertools.combinations(range(4), 2)
    }
    assert planted <= set(got)
    hs = {
        d: energy_fingerprint(_near_dup_fixture_samples(d))
        for d in range(64)
    }
    for (a, b), dist in got.items():
        true = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        assert dist == true
        assert dist <= 3
