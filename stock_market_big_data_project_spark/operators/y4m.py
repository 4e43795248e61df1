"""REAL video codec — YUV4MPEG2 (y4m) encode + decode + frame sampling,
no external libraries (r9).

y4m is the standard uncompressed video interchange format (mjpegtools,
ffmpeg's `-f yuv4mpegpipe`): an ASCII stream header (`YUV4MPEG2 W.. H..
F..` + optional tags), then per frame an ASCII `FRAME` marker and the raw
planar pixel data. With C444 chroma (one full-resolution Y, U, V plane per
frame) the byte layout is exact and library-free, so — like BMP, PNG and
WAV — this is a complete, standard-conformant implementation that retires
the video-side stub: the frame-sample operator now parses REAL video
payloads and fingerprints genuinely decoded planes.

Everything downstream is integer arithmetic over uint8 plane bytes, so the
DuckDB oracle predicts the sampled frames' fingerprints and plane stats
from the fixture's (doc_id, frame, x, y) integer formulas without parsing
a container.

At 100 TB: the container parse + frame sample is one fused
embarrassingly-parallel Arrow stage over the payload column; only the
sampled frames' fingerprints/stats (a few rows per video) shuffle onward.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources.tables import DOC_ID
from .spread import spread_keys

__all__ = [
    "encode_y4m",
    "decode_y4m",
    "attach_y4m_payload",
    "sample_video_frames",
    "VIDEO_FRAMES_SCHEMA",
]


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """Encode (n_frames, 3, h, w) uint8 YUV planes as a C444 y4m stream."""
    arr = np.asarray(frames, dtype=np.uint8)
    n, planes, h, w = arr.shape
    if planes != 3:
        raise ValueError(f"expected 3 planes, got {planes}")
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C444\n".encode()
    )
    for f in range(n):
        out += b"FRAME\n"
        out += arr[f].tobytes()  # Y, U, V planes in order, row-major
    return bytes(out)


def decode_y4m(payload: bytes):
    """Decode a C444 y4m stream → ((n_frames, 3, h, w) uint8, (fps_n,
    fps_d)). Validates the magic, parses the header tags, gates on C444
    (and the C-tag default, which is NOT 444), and checks every frame is
    complete."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii", errors="strict")
    parts = header.split(" ")
    if parts[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    fps = (25, 1)
    chroma = "420jpeg"  # the spec's default when no C tag is present
    for tag in parts[1:]:
        if not tag:
            continue
        key, val = tag[0], tag[1:]
        if key == "W":
            w = int(val)
        elif key == "H":
            h = int(val)
        elif key == "F":
            a, b = val.split(":")
            fps = (int(a), int(b))
        elif key == "C":
            chroma = val
    if w is None or h is None:
        raise ValueError("missing W/H header tags")
    if chroma != "444":
        raise ValueError(f"unsupported chroma mode C{chroma}")
    frame_bytes = 3 * w * h
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos:fnl].split(b" ")[0] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        start = fnl + 1
        chunk = payload[start : start + frame_bytes]
        if len(chunk) != frame_bytes:
            raise ValueError("truncated frame")
        frames.append(
            np.frombuffer(chunk, dtype=np.uint8).reshape(3, h, w)
        )
        pos = start + frame_bytes
    return np.stack(frames) if frames else np.empty((0, 3, h, w), np.uint8), fps


# ---------------------------------------------------------------------------
# Fixture + query stages.
# ---------------------------------------------------------------------------

# Every FRAME_EVERY-th frame of a video is sampled as a keyframe.
FRAME_EVERY = 3

VIDEO_FRAMES_SCHEMA = (
    "doc_id bigint, n_frames int, width int, height int, fps_n int, "
    "frame int, y_sum bigint, y_plane_md5 string"
)


def _y4m_fixture_frames(doc_id: int):
    """Deterministic fixture video: 6..13 frames of 6×8..10×8 C444 YUV,
    every plane value an integer formula of (doc_id, frame, plane, x, y)."""
    n = 6 + doc_id % 8
    w = 6 + (doc_id * 3) % 5
    h = 8
    f, p, y, x = np.mgrid[0:n, 0:3, 0:h, 0:w]
    return (
        (doc_id + 17 * f + 29 * p + 7 * x + 13 * y + f * x + 3 * f * y)
        % 256
    ).astype(np.uint8)


def attach_y4m_payload(df: DataFrame) -> DataFrame:
    """Real y4m payloads for the fixture ids."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[DOC_ID],
                    "payload": [
                        encode_y4m(
                            _y4m_fixture_frames(int(d)),
                            fps=(24 + int(d) % 2, 1),
                        )
                        for d in pdf[DOC_ID]
                    ],
                }
            )

    return spread_keys(df, DOC_ID).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def sample_video_frames(df: DataFrame) -> DataFrame:
    """Fused parse→frame-sample Arrow stage: keep every ``FRAME_EVERY``-th
    frame (0, FRAME_EVERY, 2·FRAME_EVERY, …) and emit its luma-plane
    integer sum plus the md5 of its uppercase hex — the training-data
    shape for video: a bounded number of keyframes per clip, fingerprinted
    for dedup and contamination checks, pixels never shuffled."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "n_frames", "width", "height", "fps_n",
                    "frame", "y_sum", "y_plane_md5",
                )
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, (fps_n, _) = decode_y4m(bytes(payload))
                n, _, h, w = frames.shape
                for f in range(0, n, FRAME_EVERY):
                    yplane = frames[f, 0]
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(n)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["fps_n"].append(fps_n)
                    out["frame"].append(f)
                    out["y_sum"].append(int(yplane.astype(np.int64).sum()))
                    out["y_plane_md5"].append(
                        hashlib.md5(
                            yplane.tobytes().hex().upper().encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=VIDEO_FRAMES_SCHEMA)
