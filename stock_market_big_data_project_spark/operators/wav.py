"""REAL audio codec — RIFF/WAVE PCM encode + decode + feature extraction,
no external libraries (r9).

The multimodal brief lists audio as a first-class payload type; like BMP
(r8) and PNG (r9), the WAV container's PCM subset is fully specified by
static byte layout — RIFF framing, the `fmt ` chunk, interleaved 16-bit
little-endian samples — so this module is a complete, standard-conformant
implementation, not a fake. The feature extractors (per-frame energy and
zero-crossing counts — the classic cheap audio features that gate
silence/noise filtering in a speech data pipeline) are INTEGER arithmetic
over int16 samples, which keeps the whole chain relational: the DuckDB
oracle recomputes samples from the fixture's integer formulas and predicts
every feature row exactly.

At 100 TB the shape is the image codecs': decode + featurize is one fused
embarrassingly-parallel Arrow stage over the binary payload column — no
shuffle; fixed-width feature rows shuffle onward, never the samples.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources.tables import DOC_ID
from .spread import spread_keys

__all__ = [
    "encode_wav",
    "decode_wav",
    "attach_wav_payload",
    "wav_frame_features",
    "WAV_FEATURES_SCHEMA",
]


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode int16 PCM samples as a canonical RIFF/WAVE file.
    ``samples``: (n,) mono or (n, channels) interleaved-by-row."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, channels = arr.shape
    data = arr.reshape(-1).astype("<i2").tobytes()  # interleaved LE
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes):
    """Decode a PCM RIFF/WAVE file → (samples (n, channels) int16,
    sample_rate). Validates RIFF/WAVE magic, walks chunks (skipping
    unknown ones, as the spec requires), and gates on PCM/16-bit."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        chunk = payload[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif ctype == b"data":
            data = chunk
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV variant: format={audio_format} bits={bits}"
        )
    if block_align != channels * 2:
        raise ValueError("block_align inconsistent with channels/bits")
    arr = np.frombuffer(data, dtype="<i2")
    n = arr.size // channels
    return arr[: n * channels].reshape(n, channels), sample_rate


# ---------------------------------------------------------------------------
# Fixture + query stages (the image-codec pattern: integer sample formulas
# the oracle evaluates relationally).
# ---------------------------------------------------------------------------

WAV_FEATURES_SCHEMA = (
    "doc_id bigint, channels int, sample_rate int, n_samples int, "
    "frame int, energy bigint, n_zero_cross int"
)

_FRAME = 16  # samples per analysis frame


def _wav_fixture_samples(doc_id: int):
    """Deterministic fixture audio: sample i of channel c is an integer
    formula of (doc_id, i, c); stereo for even ids, mono for odd; length
    and rate vary with the id."""
    n = 64 + (doc_id * 11) % 129
    channels = 2 if doc_id % 2 == 0 else 1
    i = np.arange(n)[:, None]
    c = np.arange(channels)[None, :]
    return (
        ((doc_id * 31 + 7 * i * i + 13 * i * (c + 1) + 5 * c) % 65536)
        - 32768
    ).astype(np.int16)


def _wav_fixture_rate(doc_id: int) -> int:
    return 8000 + (doc_id % 3) * 4000


def attach_wav_payload(df: DataFrame) -> DataFrame:
    """Real RIFF/WAVE payloads for the fixture ids."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[DOC_ID],
                    "payload": [
                        encode_wav(
                            _wav_fixture_samples(int(d)),
                            _wav_fixture_rate(int(d)),
                        )
                        for d in pdf[DOC_ID]
                    ],
                }
            )

    return spread_keys(df, DOC_ID).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def wav_frame_features(df: DataFrame) -> DataFrame:
    """Fused decode→featurize Arrow stage: per 16-sample frame of channel
    0, the INTEGER energy (Σ s², int64-exact: ≤16·32768² ≈ 2^34 per
    frame) and the zero-crossing count (sign(s[i]) ≠ sign(s[i+1]) with
    sign(0) = +) — the silence/noise gates of an audio pipeline, exact
    enough to hash. The ragged tail (< 16 samples) is dropped, as frame
    analyzers do."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "channels", "sample_rate", "n_samples",
                    "frame", "energy", "n_zero_cross",
                )
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, rate = decode_wav(bytes(payload))
                n, channels = samples.shape
                ch0 = samples[:, 0].astype(np.int64)
                n_frames = n // _FRAME
                frames = ch0[: n_frames * _FRAME].reshape(n_frames, _FRAME)
                energy = (frames * frames).sum(axis=1)
                neg = frames < 0  # sign(0) counts as +
                zc = (neg[:, 1:] != neg[:, :-1]).sum(axis=1)
                for f in range(n_frames):
                    out["doc_id"].append(doc_id)
                    out["channels"].append(channels)
                    out["sample_rate"].append(rate)
                    out["n_samples"].append(n)
                    out["frame"].append(f)
                    out["energy"].append(int(energy[f]))
                    out["n_zero_cross"].append(int(zc[f]))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=WAV_FEATURES_SCHEMA)
