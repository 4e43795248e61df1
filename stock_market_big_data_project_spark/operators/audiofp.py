"""Audio near-duplicate detection via energy-envelope fingerprints (r9).

Completes the perceptual near-dup family across all three modalities
(image: operators/imagehash.py; video: operators/videodedup.py; audio:
here): the 64-bit fingerprint is the sign of the frame-energy gradient —
bit f is set when frame f+1 carries more energy than frame f — computed
on genuinely decoded PCM (operators/wav.py). Like dHash's brightness
invariance, the envelope-gradient sign is exactly invariant under uniform
volume scaling: a clip amplified by an integer factor k has frame
energies k²·e, so every comparison is unchanged — volume-adjusted
re-encodes are hamming-0 near-dups that byte-level dedup can never see
(the PCM bytes share nothing). Everything is integer arithmetic (int16
samples, int64 energy sums, comparisons), so the DuckDB oracle replays
hash, band keys, candidates, and verified distances from the fixture's
sample formulas; candidate pairing reuses the SimHash banded pigeonhole
join verbatim.

At 100 TB: decode→fingerprint is one fused narrow Arrow stage (64 bits
per clip shuffle onward, never samples); the banded join is the audited
SimHash shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources.tables import DOC_ID
from .wav import decode_wav, encode_wav

__all__ = [
    "energy_fingerprint",
    "attach_near_dup_wav_payload",
    "audio_fingerprints",
]

_FRAME = 16
_BITS = 64  # needs 65 frames = 1040 samples; the fixture carries 1056


def energy_fingerprint(ch0: np.ndarray) -> int:
    """64-bit envelope fingerprint of a mono sample vector: per-16-sample
    frame energies (Σ s², int64-exact), bit f = [e(f) < e(f+1)] for the
    first 64 gradients, packed as a signed 64-bit value (two's
    complement — the BIGINT a Spark/DuckDB column holds)."""
    s = np.asarray(ch0, dtype=np.int64)
    n_frames = s.size // _FRAME
    if n_frames < _BITS + 1:
        raise ValueError(
            f"need ≥ {(_BITS + 1) * _FRAME} samples, got {s.size}"
        )
    fr = s[: n_frames * _FRAME].reshape(n_frames, _FRAME)
    e = (fr * fr).sum(axis=1)
    v = 0
    for k in range(_BITS):
        if e[k] < e[k + 1]:
            v |= 1 << k
    return v - (1 << 64) if v >= 1 << 63 else v


def _near_dup_fixture_samples(doc_id: int) -> np.ndarray:
    """Fixture clip with planted volume-scaled near-dups: clips share a
    base waveform per ``doc_id // 4`` (base-dependent quadratic-phase
    integer 'chirp', values in ±2000); variant ``doc_id % 4`` multiplies
    every sample by k = variant+1 (≤ ±8000, safely inside int16) — frame
    energies scale by exactly k², so the fingerprint is provably
    identical across a group while the PCM bytes share nothing."""
    base = doc_id // 4
    k = doc_id % 4 + 1
    cx = base * base % 13 + 1
    cy = base % 29 + 3
    i = np.arange((_BITS + 2) * _FRAME)  # 1056 samples
    s = ((cx * i * i + cy * i + 7 * base) % 4001) - 2000
    return (k * s).astype(np.int16)


def attach_near_dup_wav_payload(df: DataFrame) -> DataFrame:
    """Real RIFF/WAVE payloads carrying the planted near-dup structure."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[DOC_ID],
                    "payload": [
                        encode_wav(_near_dup_fixture_samples(int(d)), 8000)
                        for d in pdf[DOC_ID]
                    ],
                }
            )

    # Deliberately NOT spread_keys (r12): the WAV encode+decode+envelope
    # chain is ~0.05 ms/row (vectorized numpy over the sample array), so
    # even the whole sf0.1 corpus is ~60 ms of Python — the repartition's
    # extra exchange cost more than it saved (measured 1.21 s -> 1.64 s
    # WITH the spread; reverted). The image/video codecs are 20-40x more
    # expensive per row and do pay for spreading.
    return df.select(DOC_ID).mapInPandas(gen, schema="doc_id bigint, payload binary")


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """Fused decode→fingerprint Arrow stage: WAV payload in,
    (doc_id, afp) out — samples never leave the stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "afp": [
                        energy_fingerprint(
                            decode_wav(bytes(p))[0][:, 0]
                        )
                        for p in pdf["payload"]
                    ],
                }
            )

    return df.mapInPandas(run, schema="doc_id bigint, afp bigint")
