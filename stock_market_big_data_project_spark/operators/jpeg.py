"""REAL JPEG codec — baseline sequential DCT, no external libraries (r9).

The last multimodal stub falls: this is a complete JFIF/JPEG
encoder + decoder pair for baseline sequential DCT (SOI/APP0/DQT/SOF0/
DHT/SOS/EOI markers, the spec's Annex-K quantization and Huffman tables,
DC prediction, 0xFF byte stuffing, 4:4:4 sampling, greyscale + YCbCr
colour). What makes it CERTIFIABLE is the arithmetic contract: every
lossy step — colour conversion, forward DCT, quantization, dequantization,
inverse DCT, clamp — is specified as FIXED-POINT INTEGER arithmetic
(14-bit scaled cosine tables, single fused rounding divisions), so the
decoded pixels are an exact integer function of the input pixels. The
DuckDB oracle replays that function relationally from the fixture's pixel
formulas WITHOUT parsing a JPEG; the Spark side goes through the real
bitstream — so a one-bit Huffman/stuffing/prediction bug changes the
coefficients, the pixels, and the hash.

Interoperability note (honest scope): the files this encoder emits are
standard baseline JPEGs any decoder can read (an encoder's DCT precision
is its own choice under the spec); this decoder reads baseline 4:4:4 /
greyscale files generally, with an integer IDCT in place of IEEE-1180
floating point — bit-exact as a pair, format-interoperable, and the
variant gates reject what it cannot honour (progressive, subsampled,
12-bit).

At 100 TB the shape is the codec family's: encode and decode+fingerprint
are embarrassingly-parallel narrow Arrow stages over the payload column.
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
    "encode_jpeg",
    "decode_jpeg",
    "reconstruct_pixels",
    "attach_jpeg_payload",
    "decode_fingerprint_jpeg",
    "JPEG_DECODED_SCHEMA",
]

# ---------------------------------------------------------------------------
# Fixed-point transform constants (the arithmetic contract).
# ---------------------------------------------------------------------------

_S = 14  # cosine table scale bits
# C[u][x] = round(cos((2x+1)·u·π/16) · 2^14) — the unnormalized DCT basis
_C = np.array(
    [
        [int(round(np.cos((2 * x + 1) * u * np.pi / 16) * (1 << _S)))
         for x in range(8)]
        for u in range(8)
    ],
    dtype=np.int64,
)
# CD[u][x] = round(c_u · cos((2x+1)·u·π/16) · 2^14), c_0 = 1/√2 — the
# normalized basis used by the inverse transform
_CD = np.array(
    [
        [
            int(
                round(
                    (1 / np.sqrt(2) if u == 0 else 1.0)
                    * np.cos((2 * x + 1) * u * np.pi / 16)
                    * (1 << _S)
                )
            )
            for x in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.int64,
)
# K[u][v] = round(c_u·c_v·2^12) — normalization folded into quantization
_KBITS = 12
_K = np.array(
    [
        [
            int(
                round(
                    (1 / np.sqrt(2) if u == 0 else 1.0)
                    * (1 / np.sqrt(2) if v == 0 else 1.0)
                    * (1 << _KBITS)
                )
            )
            for v in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.int64,
)

# Annex K (ITU-T T.81 Tables K.1/K.2) quantization tables, zigzag order
# applied at write time; stored here in natural (row-major) order.
_Q_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)
_Q_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K Huffman table specs: (bits-per-length[1..16], values)
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _round_div(a: np.ndarray, d: int) -> np.ndarray:
    """Integer division rounding HALF AWAY FROM ZERO — the codec's single
    rounding rule, chosen because it is one CASE expression in SQL."""
    a = np.asarray(a, dtype=np.int64)
    return np.where(a >= 0, (2 * a + d) // (2 * d), -((-2 * a + d) // (2 * d)))


# ---------------------------------------------------------------------------
# The lossy integer math (shared by encoder, decoder, and — relationally —
# the oracle).
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """Integer YCbCr (BT.601 coefficients over a 1000 denominator): one
    fused rounding division per channel."""
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    y = _round_div(299 * r + 587 * g + 114 * b, 1000)
    cb = _round_div(-169 * r - 331 * g + 500 * b, 1000) + 128
    cr = _round_div(500 * r - 419 * g - 81 * b, 1000) + 128
    return np.stack(
        [y, np.clip(cb, 0, 255), np.clip(cr, 0, 255)], axis=-1
    )


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.int64)
    cb = ycc[..., 1].astype(np.int64) - 128
    cr = ycc[..., 2].astype(np.int64) - 128
    r = y + _round_div(1402 * cr, 1000)
    g = y - _round_div(344 * cb + 714 * cr, 1000)
    b = y + _round_div(1772 * cb, 1000)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


def _fdct_quant(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """8×8 pixel block (0..255) → quantized coefficients: level shift,
    two integer basis passes (scale 2^28), normalization (K, 2^12) and
    quantization fused into ONE rounding division."""
    s = block.astype(np.int64) - 128
    t1 = _C @ s  # (u, y), scale 2^14
    t2 = t1 @ _C.T  # (u, v), scale 2^28
    return _round_div(t2 * _K, 4 * q * (1 << (2 * _S + _KBITS)))


def _dequant_idct(coef: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Quantized coefficients → 8×8 pixel block: dequantize, two
    normalized inverse passes (CD, scale 2^28), one rounding division,
    level unshift, clamp."""
    d = coef.astype(np.int64) * q
    v1 = _CD.T @ d  # (x, v)
    v2 = v1 @ _CD  # (x, y)
    return np.clip(_round_div(v2, 4 << (2 * _S)) + 128, 0, 255)


def reconstruct_pixels(pixels: np.ndarray) -> np.ndarray:
    """The codec's exact decode(encode(x)) pixel function, WITHOUT any
    bitstream: what the oracle replays relationally and what the
    roundtrip test pins the real codec against. (h, w) grey or (h, w, 3)
    RGB, dims multiples of 8."""
    arr = np.asarray(pixels, dtype=np.int64)
    grey = arr.ndim == 2
    planes = (
        [arr] if grey else [_rgb_to_ycbcr(arr)[..., i] for i in range(3)]
    )
    out = []
    for ci, plane in enumerate(planes):
        q = _Q_LUMA if ci == 0 else _Q_CHROMA
        h, w = plane.shape
        rec = np.empty((h, w), dtype=np.int64)
        for by in range(0, h, 8):
            for bx in range(0, w, 8):
                blk = plane[by : by + 8, bx : bx + 8]
                rec[by : by + 8, bx : bx + 8] = _dequant_idct(
                    _fdct_quant(blk, q), q
                )
        out.append(rec)
    if grey:
        return out[0].astype(np.uint8)
    return _ycbcr_to_rgb(np.stack(out, axis=-1)).astype(np.uint8)


# ---------------------------------------------------------------------------
# Huffman bitstream.
# ---------------------------------------------------------------------------


def _build_huff(spec) -> dict[int, tuple[int, int]]:
    """value → (code, length) per the JPEG canonical-code procedure."""
    bits, values = spec
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_huff_decode(spec) -> dict[tuple[int, int], int]:
    return {cl: v for v, cl in _build_huff(spec).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("bitstream underrun")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1  # skip the stuffed 0x00
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value → (size, size-bit code)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    code = v if v > 0 else v + (1 << size) - 1
    return size, code


def _extend(code: int, size: int) -> int:
    if size == 0:
        return 0
    return code if code >= (1 << (size - 1)) else code - (1 << size) + 1


# ---------------------------------------------------------------------------
# Encoder / decoder.
# ---------------------------------------------------------------------------


def _plane_blocks(plane: np.ndarray):
    h, w = plane.shape
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            yield plane[by : by + 8, bx : bx + 8]


def encode_jpeg(pixels) -> bytes:
    """Encode uint8 pixels ((h, w) grey or (h, w, 3) RGB, dims multiples
    of 8) as a baseline sequential JPEG: Annex-K quant + Huffman tables,
    4:4:4 sampling, interleaved YCbCr or single-component greyscale."""
    arr = np.asarray(pixels, dtype=np.uint8)
    grey = arr.ndim == 2
    if (arr.shape[0] % 8) or (arr.shape[1] % 8):
        raise ValueError("dimensions must be multiples of 8")
    h, w = arr.shape[:2]
    planes = (
        [arr.astype(np.int64)]
        if grey
        else [_rgb_to_ycbcr(arr.astype(np.int64))[..., i] for i in range(3)]
    )

    out = bytearray(b"\xff\xd8")  # SOI
    # APP0/JFIF
    jfif = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(jfif)) + jfif
    # DQT (zigzag order)
    for tid, q in ([(0, _Q_LUMA)] if grey else [(0, _Q_LUMA), (1, _Q_CHROMA)]):
        payload = bytes([tid]) + bytes(
            int(q.reshape(-1)[_ZIGZAG[i]]) for i in range(64)
        )
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload
    # SOF0
    ncomp = 1 if grey else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])  # 4:4:4
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    specs = [(0x00, _HUFF_DC_LUMA), (0x10, _HUFF_AC_LUMA)]
    if not grey:
        specs += [(0x01, _HUFF_DC_CHROMA), (0x11, _HUFF_AC_CHROMA)]
    for tc, (bits, values) in specs:
        payload = bytes([tc]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    # SOS
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_tabs = [_build_huff(_HUFF_DC_LUMA)] + (
        [] if grey else [_build_huff(_HUFF_DC_CHROMA)] * 2
    )
    ac_tabs = [_build_huff(_HUFF_AC_LUMA)] + (
        [] if grey else [_build_huff(_HUFF_AC_CHROMA)] * 2
    )
    qtabs = [_Q_LUMA] + ([] if grey else [_Q_CHROMA] * 2)

    bw = _BitWriter()
    pred = [0] * ncomp
    block_iters = [list(_plane_blocks(p)) for p in planes]
    for bi in range(len(block_iters[0])):  # interleaved 4:4:4 MCUs
        for c in range(ncomp):
            coef = _fdct_quant(block_iters[c][bi], qtabs[c])
            zz = coef.reshape(-1)[_ZIGZAG]
            # DC
            diff = int(zz[0]) - pred[c]
            pred[c] = int(zz[0])
            size, code = _magnitude(diff)
            hc, hl = dc_tabs[c][size]
            bw.put(hc, hl)
            if size:
                bw.put(code, size)
            # AC
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    hc, hl = ac_tabs[c][0xF0]  # ZRL
                    bw.put(hc, hl)
                    run -= 16
                size, code = _magnitude(v)
                hc, hl = ac_tabs[c][(run << 4) | size]
                bw.put(hc, hl)
                bw.put(code, size)
                run = 0
            if run:
                hc, hl = ac_tabs[c][0x00]  # EOB
                bw.put(hc, hl)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg(payload: bytes):
    """Decode a baseline sequential 8-bit JPEG (greyscale or 4:4:4 YCbCr)
    to a uint8 array. Validates markers, rejects progressive/subsampled/
    12-bit variants, honours DQT/DHT from the stream (not assumptions),
    un-stuffs 0xFF 0x00, tracks DC prediction."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qtab)
    scan: bytes | None = None
    comp_tabs: list[tuple[int, int]] = []
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = np.frombuffer(
                    seg[sp + 1 : sp + 65], dtype=np.uint8
                ).astype(np.int64)
                qtabs[tq] = tbl.reshape(8, 8)
                sp += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, hh, ww, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = hh, ww
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("subsampled JPEG unsupported (4:4:4 only)")
                comps.append((cid, samp, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential DCT supported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                values = list(seg[sp + 17 : sp + 17 + nv])
                huff[(tc, th)] = _build_huff_decode((bits, values))
                sp += 17 + nv
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            comp_tabs = []
            for c in range(ns):
                _cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                comp_tabs.append((tabs >> 4, tabs & 0xF))
            scan = payload[pos + 2 + seglen :]
            break
        pos += 2 + seglen
    if scan is None or h is None:
        raise ValueError("missing SOS/SOF")
    if (h % 8) or (w % 8):
        raise ValueError("dimensions must be multiples of 8")
    ncomp = len(comps)

    def read_code(br: _BitReader, table) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | br.bit()
            length += 1
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid Huffman code")

    br = _BitReader(scan)
    planes = [np.zeros((h, w), dtype=np.int64) for _ in range(ncomp)]
    pred = [0] * ncomp
    n_blocks = (h // 8) * (w // 8)
    bw_ = w // 8
    for bi in range(n_blocks):
        by, bx = (bi // bw_) * 8, (bi % bw_) * 8
        for c in range(ncomp):
            dc_tab = huff[(0, comp_tabs[c][0])]
            ac_tab = huff[(1, comp_tabs[c][1])]
            zz = np.zeros(64, dtype=np.int64)
            size = read_code(br, dc_tab)
            diff = _extend(br.bits(size), size) if size else 0
            pred[c] += diff
            zz[0] = pred[c]
            k = 1
            while k < 64:
                rs = read_code(br, ac_tab)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                run, size = rs >> 4, rs & 0xF
                k += run
                if k > 63:
                    raise ValueError("AC run past block end")
                zz[k] = _extend(br.bits(size), size)
                k += 1
            coef = np.zeros(64, dtype=np.int64)
            coef[_ZIGZAG] = zz
            q = qtabs[comps[c][2]]
            planes[c][by : by + 8, bx : bx + 8] = _dequant_idct(
                coef.reshape(8, 8), q
            )
    if ncomp == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)
    ycc = np.stack(planes, axis=-1)
    return _ycbcr_to_rgb(ycc).astype(np.uint8)


# ---------------------------------------------------------------------------
# Fixture + query stages (the codec-family pattern).
# ---------------------------------------------------------------------------

JPEG_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, color_type int, "
    "pixel_md5 string, max_abs_err int"
)


def _jpeg_fixture_pixels(doc_id: int):
    """Deterministic fixture image, dims multiples of 8 (8×8, every 4th
    id 16×16); even ids RGB, odd greyscale. Content is WRAP-FREE —
    smooth gradients plus a bounded sawtooth detail term — so the
    quantization loss stays in the regime real photos live in (the
    max_abs_err column reports it, hash-checked), instead of the
    full-amplitude mod-256 edges a wrapped formula would plant."""
    side = 16 if doc_id % 4 == 0 else 8
    w = h = side
    y, x = np.mgrid[0:h, 0:w]
    if doc_id % 2 == 0:
        r = 16 + (3 * doc_id) % 32 + 2 * x + 3 * y + (x * y + doc_id) % 48
        g = 24 + (5 * doc_id) % 32 + 3 * x + y + (2 * x * y + doc_id) % 40
        b = 8 + (7 * doc_id) % 32 + x + 2 * y + (x * y + 3 * doc_id) % 56
        return np.stack([r, g, b], axis=2).astype(np.uint8)
    return (
        20 + (13 * doc_id) % 40 + 3 * x + 2 * y + (x * y + doc_id) % 52
    ).astype(np.uint8)


def attach_jpeg_payload(df: DataFrame) -> DataFrame:
    """Real baseline-JPEG payloads for the fixture ids."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[DOC_ID],
                    "payload": [
                        encode_jpeg(_jpeg_fixture_pixels(int(d)))
                        for d in pdf[DOC_ID]
                    ],
                }
            )

    return spread_keys(df, DOC_ID).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def decode_fingerprint_jpeg(df: DataFrame) -> DataFrame:
    """Fused decode→fingerprint Arrow stage: parse the real bitstream,
    fingerprint the decoded pixels, and report the max absolute error vs
    the regenerated original — the bounded-loss evidence. The oracle
    predicts BOTH without parsing a JPEG (the lossy math is an exact
    integer function of the pixels)."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "width", "height", "color_type",
                    "pixel_md5", "max_abs_err",
                )
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = decode_jpeg(bytes(payload))
                orig = _jpeg_fixture_pixels(int(doc_id))
                err = int(
                    np.max(
                        np.abs(
                            arr.astype(np.int64) - orig.astype(np.int64)
                        )
                    )
                )
                out["doc_id"].append(doc_id)
                out["width"].append(arr.shape[1])
                out["height"].append(arr.shape[0])
                out["color_type"].append(2 if arr.ndim == 3 else 0)
                out["pixel_md5"].append(
                    hashlib.md5(
                        arr.tobytes().hex().upper().encode()
                    ).hexdigest()
                )
                out["max_abs_err"].append(err)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=JPEG_DECODED_SCHEMA)
