"""Video near-duplicate detection via keyframe dHash (r9).

Composes three r9 operators into the dedup family's VIDEO member: parse
real YUV4MPEG2 payloads (operators/y4m.py), dHash the luma plane of every
sampled keyframe (operators/imagehash.py — the grid arithmetic is
identical for a video frame and a still image), and find cross-video
keyframe matches at Hamming ≤ 3 with the SimHash banded pigeonhole join.
Two clips are near-dups when they share matching keyframes — the shape
production video dedup uses (per-frame perceptual hashes + frame-match
counting), here with everything integer-exact so the DuckDB oracle
replays the whole chain from the fixture's plane formulas.

The planted structure mirrors the image fixture's: clips group by
``doc_id // 4``; variants shift the LUMA plane by a uniform wrap-free
constant (dHash-invariant: block means shift uniformly) while the chroma
planes change arbitrarily per variant — so the near-dups are provably
found, byte-level dedup provably cannot see them (payloads share no
bytes), and the hash's luma-only contract is demonstrated, not asserted.

Scale shape: parse→sample→hash is one fused narrow Arrow stage (a few
64-bit hashes per clip shuffle onward, never frames); the banded join is
the audited SimHash shape over keyframe hashes, pair space ∝ shared
band buckets.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .spread import spread_keys
from pyspark.sql import functions as F

from ..sources.tables import DOC_ID
from .imagehash import dhash_from_pixels
from .y4m import FRAME_EVERY, decode_y4m, encode_y4m

__all__ = [
    "attach_near_dup_y4m_payload",
    "video_keyframe_hashes",
    "video_near_dup_pairs",
]

# composite (doc, frame) key for the banded join: frames per clip < 16,
# so doc_id * 4096 + frame is collision-free for any realistic doc count
_FID_BASE = 4096


def _video_near_dup_frames(doc_id: int) -> np.ndarray:
    """Fixture clip with planted near-dups: clips share base Y-plane
    content per ``doc_id // 4`` (base-dependent quadratic coefficients —
    the image-fixture lesson: additive base terms are dHash-invariant,
    curvature must vary); variant ``doc_id % 4`` adds a uniform +8·k to
    LUMA (wrap-free: base luma < 224) and rewrites chroma entirely
    (doc_id-dependent formulas). w ≥ 9 / h = 8 keeps the dHash grid
    dense (the oracle's density requirement)."""
    base = doc_id // 4
    v = 8 * (doc_id % 4)
    n = 6 + base % 6
    w = 9 + (base * 3) % 6
    h = 8
    f, y, x = np.mgrid[0:n, 0:h, 0:w]
    cx = base * base % 17 + 2
    cy = base % 11 + 3
    cf = base % 7 + 1
    luma = (
        (5 * base + cx * x * x + cy * y * y + cf * f * x + 3 * f * y + 11 * f)
        % 224 + v
    )
    u = (doc_id * 13 + 7 * x + 5 * y + 2 * f) % 256
    vv = (doc_id * 19 + 3 * x + 11 * y + f) % 256
    return np.stack([luma, u, vv], axis=1).astype(np.uint8)


def attach_near_dup_y4m_payload(df: DataFrame) -> DataFrame:
    """Real y4m payloads carrying the planted near-dup structure."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[DOC_ID],
                    "payload": [
                        encode_y4m(_video_near_dup_frames(int(d)))
                        for d in pdf[DOC_ID]
                    ],
                }
            )

    return spread_keys(df, DOC_ID).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def video_keyframe_hashes(df: DataFrame) -> DataFrame:
    """Fused parse→sample→dHash Arrow stage: (doc_id, frame, fid, dhash)
    for every ``FRAME_EVERY``-th frame's luma plane."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in ("doc_id", "frame", "fid", "dhash")
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, _ = decode_y4m(bytes(payload))
                for f in range(0, frames.shape[0], FRAME_EVERY):
                    out["doc_id"].append(doc_id)
                    out["frame"].append(f)
                    out["fid"].append(int(doc_id) * _FID_BASE + f)
                    out["dhash"].append(dhash_from_pixels(frames[f, 0]))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema="doc_id bigint, frame int, fid bigint, dhash bigint"
    )


def video_near_dup_pairs(hashes: DataFrame) -> DataFrame:
    """Cross-video near-dup pairs from keyframe hashes: the SimHash
    banded join (reused verbatim, pigeonhole-complete at SIMHASH_MAX_DIST <
    bands) pairs individual keyframes; the rollup counts matching
    keyframe pairs per (video, video) and keeps the closest distance —
    (id_a, id_b, n_frame_matches, min_hamming), id_a < id_b."""
    from .dedup import simhash_hamming_pairs

    # r13 (guide §8): materialize the 16-byte-per-keyframe hash proxy
    # once — the broadcast self-join otherwise re-runs the y4m decode +
    # keyframe dHash Arrow chain for both sides (no ReuseExchange across
    # a BroadcastExchange). Lazy: executes inside the timed region.
    # Measured at sf0.1: 1.84 s → 1.34 s (−28%), same rows.
    fp = hashes.select("fid", "dhash").localCheckpoint(eager=False)
    pairs = simhash_hamming_pairs(fp, "fid", fp_col="dhash", bits=64)
    a_doc = (F.col("id_a") / _FID_BASE).cast("bigint")
    b_doc = (F.col("id_b") / _FID_BASE).cast("bigint")
    return (
        pairs.select(
            a_doc.alias("doc_a"), b_doc.alias("doc_b"), "hamming_dist"
        )
        # fid_a < fid_b ⇒ doc_a ≤ doc_b; drop same-video frame pairs
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_frame_matches"),
            F.min("hamming_dist").alias("min_hamming"),
        )
    )
