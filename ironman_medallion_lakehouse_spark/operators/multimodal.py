"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference extension (BASELINE.json north star). Pattern: media
(image/audio/video) lives as an opaque ``binary`` column next to typed
metadata; decode / feature-extract run as Arrow-batched
``mapInPandas`` stages so the payload never round-trips through
Python row-by-row.

Decode support: UNCOMPRESSED formats decode for REAL with stdlib +
numpy — binary PPM (P6) images (``ppm_decode``: header parse,
pixel-stat features, r4) and PCM WAV audio (``wav_decode``: stdlib
``wave`` + numpy → duration / RMS / zero-crossing features, r4). Two
COMPRESSED codecs are also real, with no external library: PNG
(``png_decode`` / ``encode_png``) — the container is DEFLATE (stdlib
``zlib``) and the five scanline filters are public-spec arithmetic
(ISO/IEC 15948 §9 / RFC 2083) — and baseline JPEG (``jpeg_decode`` /
``encode_jpeg``: DCT, quantization and Huffman coding per ITU T.81).
``image_decode`` dispatches on the payload magic (P6 → PPM,
\\x89PNG → PNG, \\xff\\xd8 → JPEG). Remaining codecs (progressive
JPEG, WebP, MP3/H.264 …) stay behind ``deterministic_fake_decoder`` /
NotImplementedError — those decoders genuinely need absent libraries;
a PIL/ffmpeg-backed decoder is a drop-in ``decoder=`` swap. Everything
Spark-side — schema, partitioning, batch iteration, UDF signatures —
is identical between the real and stub paths.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def deterministic_fake_decoder(payload: bytes) -> dict:
    """Stand-in for a real image decode: derives stable pseudo
    dimensions and an 8-dim feature from the payload bytes. Replace
    with a real codec when available (would raise NotImplementedError
    for formats it can't parse)."""
    digest = hashlib.md5(payload or b"").digest()
    return {
        "width": 64 + digest[0] % 192,
        "height": 64 + digest[1] % 192,
        "feature": [b / 255.0 for b in digest[:8]],
    }


# ------------------------------------------------------------ real codecs
#
# Binary PPM (P6) and PCM WAV are fully decodable with stdlib + numpy —
# no external codec library involved. These are the real paths.

def encode_ppm(pixels) -> bytes:
    """numpy (h, w, 3) uint8 → binary PPM (P6) bytes."""
    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def _ppm_header(payload: bytes) -> tuple[int, int, int]:
    """Parse a binary-PPM (P6) header; returns (width, height,
    pixel_offset). The single source of truth for where pixel bytes
    start — a substring search for b"255\\n" is wrong whenever a
    dimension token itself ends in 255 (e.g. header ``P6\\n300 255\\n
    255\\n``)."""
    if not payload or not payload.startswith(b"P6"):
        raise NotImplementedError(
            "not a binary PPM (P6) payload — use image_decode to "
            "dispatch across the in-container codecs (PPM, PNG), or a "
            "codec-backed decoder= (PIL/ffmpeg) for other formats"
        )
    # header = 4 whitespace-separated tokens: magic, width, height,
    # maxval; pixel bytes start right after the single whitespace
    # following maxval
    tokens, pos = [], 2
    while len(tokens) < 3 and pos < len(payload):
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(payload[start:pos])
    pos += 1  # the single whitespace after maxval
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise NotImplementedError("only 8-bit PPM supported")
    return w, h, pos


def _rgb_features(px, w: int, h: int) -> dict:
    """Shared feature extraction over a decoded (h, w, 3) uint8 pixel
    matrix: dimensions + the 8-dim feature
    [mean R,G,B, std R,G,B, aspect, brightness]. Every image codec
    funnels through this ONE implementation, so two codecs decoding
    the same pixels produce BIT-IDENTICAL features — the property
    q54's cross-codec attestation relies on."""
    means = px.mean(axis=(0, 1)) / 255.0
    stds = px.std(axis=(0, 1)) / 255.0
    return {
        "width": w,
        "height": h,
        "feature": [
            float(means[0]), float(means[1]), float(means[2]),
            float(stds[0]), float(stds[1]), float(stds[2]),
            float(w) / float(h), float(means.mean()),
        ],
    }


def ppm_decode(payload: bytes) -> dict:
    """REAL image decode for binary PPM (P6): parse the header, load
    the pixel matrix, return dimensions + the shared 8-dim feature —
    all numpy-vectorized per payload."""
    import numpy as np

    w, h, pos = _ppm_header(payload)
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos).reshape(
        h, w, 3
    )
    return _rgb_features(px, w, h)


# --------------------------------------------------------------- PNG
#
# A real COMPRESSED image codec, in-container (r14): PNG's container
# is DEFLATE — stdlib ``zlib`` — and its five scanline filters
# (None/Sub/Up/Average/Paeth) are public-spec integer arithmetic
# (ISO/IEC 15948 §9 / RFC 2083). No Pillow involved. JPEG remains
# env-gated (Huffman+DCT decode genuinely needs an absent library or
# a much larger hand-rolled decoder).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# colortype -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a, b, c):
    """Paeth predictor over int16 arrays (spec §9.4): nearest of
    left/up/upper-left to p = a + b - c, ties broken a, b, c."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels) -> bytes:
    """numpy (h, w, 3) uint8 → PNG bytes, pure stdlib zlib/struct.

    The scanline filter CYCLES 0..4 by row, so any image with ≥ 5 rows
    exercises every PNG filter type (None/Sub/Up/Average/Paeth) — the
    encoder doubles as a decoder-coverage fixture, and the synthesized
    q54 corpus (h ≥ 8) always crosses all five unfilter paths."""
    import struct
    import zlib

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    if c != 3:
        raise NotImplementedError("encode_png writes 8-bit RGB (colortype 2) only")
    bpp = 3
    zeros = np.zeros(bpp, dtype=np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    raw = bytearray()
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int16)
        left = np.concatenate([zeros, row[:-bpp]])
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:  # Sub
            filt = row - left
        elif f == 2:  # Up
            filt = row - prev
        elif f == 3:  # Average (floor of the unsigned mean)
            filt = row - ((left + prev) >> 1)
        else:  # Paeth
            ul = np.concatenate([zeros, prev[:-bpp]])
            filt = row - _paeth(left, prev, ul)
        raw.append(f)
        raw.extend((filt & 0xFF).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int):
    """Reverse the per-scanline filters → (h, w*bpp) uint8.

    None/Sub/Up are fully vectorized (Sub's recurrence
    ``recon[x] = filt[x] + recon[x-bpp]`` is a cumsum mod 256 per byte
    lane). Average/Paeth depend on the JUST-reconstructed left pixel,
    so they loop over x with bpp-vector steps — O(w) tiny numpy ops
    per such row, amortized fine inside the Arrow batch loop."""
    import numpy as np

    stride = w * bpp
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel stream length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int16)
        pos += 1 + stride
        prev = out[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        if f == 0:
            recon = line
        elif f == 1:  # Sub: cumulative sum per lane, mod 256
            recon = (
                line.reshape(w, bpp).astype(np.int64).cumsum(axis=0) % 256
            ).reshape(-1)
        elif f == 2:  # Up
            recon = (line + prev) & 0xFF
        elif f == 3:  # Average
            fl, pv = line.reshape(w, bpp), prev.reshape(w, bpp)
            rec = np.zeros((w, bpp), np.int16)
            left = np.zeros(bpp, np.int16)
            for x in range(w):
                left = (fl[x] + ((left + pv[x]) >> 1)) & 0xFF
                rec[x] = left
            recon = rec.reshape(-1)
        elif f == 4:  # Paeth
            fl, pv = line.reshape(w, bpp), prev.reshape(w, bpp)
            rec = np.zeros((w, bpp), np.int16)
            left = np.zeros(bpp, np.int16)
            ul = np.zeros(bpp, np.int16)
            for x in range(w):
                left = (fl[x] + _paeth(left, pv[x], ul)) & 0xFF
                rec[x] = left
                ul = pv[x]
            recon = rec.reshape(-1)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = recon.astype(np.uint8)
    return out


def _png_pixels(payload: bytes):
    """Decode an 8-bit non-interlaced PNG (colortypes 0/2/6) to an
    (h, w, 3) uint8 RGB matrix (grayscale replicated, alpha dropped):
    walk the chunk stream (CRC-verified), inflate the IDATs with
    stdlib zlib, reverse the scanline filters. Palette, 16-bit, and
    Adam7-interlaced PNGs raise NotImplementedError."""
    import struct
    import zlib

    import numpy as np

    if not payload or not payload.startswith(_PNG_SIG):
        raise NotImplementedError("not a PNG payload")
    pos, ihdr, idat, plte = len(_PNG_SIG), None, bytearray(), None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(typ + data) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (0, 2, 3, 6) or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"only 8-bit gray/RGB/palette/RGBA PNG decodes in-container "
            f"(depth={depth}, colortype={color})"
        )
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    bpp = _PNG_CHANNELS.get(color, 1)  # palette: one index byte/pixel
    flat = _png_unfilter(zlib.decompress(bytes(idat)), w, h, bpp)
    px = flat.reshape(h, w, bpp)
    if color == 3:  # palette lookup
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        if int(px.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        px = plte[px[:, :, 0]]
    elif bpp == 1:
        px = np.repeat(px, 3, axis=2)
    elif bpp == 4:
        px = px[:, :, :3]
    return np.ascontiguousarray(px), w, h


def png_decode(payload: bytes) -> dict:
    """REAL decode for 8-bit non-interlaced PNG → the SAME dimensions
    + 8-dim feature contract as ``ppm_decode`` (see ``_png_pixels``
    for format support)."""
    px, w, h = _png_pixels(payload)
    return _rgb_features(px, w, h)


# -------------------------------------------------------------- JPEG
#
# A real lossy COMPRESSED codec, in-container (r14): baseline DCT
# JPEG (ITU-T T.81) hand-implemented on numpy + stdlib. Nothing is
# copied from a codec library and no spec table is transcribed from
# memory where an error could silently corrupt output: the zigzag
# order is GENERATED from its defining diagonal traversal, the DCT is
# the orthonormal matrix form (math, not magic numbers), and the
# Huffman tables are OUR OWN canonical fixed-length tables embedded
# in the file's DHT segments — JPEG carries its entropy tables
# explicitly, so any conformant decoder reads them from the stream.
# The decoder builds codes from DHT generally (T.81 Annex C), so it
# also reads files using the standard Annex-K tables. Supported:
# baseline/extended-sequential (SOF0/SOF1), 8-bit, 1 or 3 components,
# any integer chroma sampling on decode (the encoder emits 4:4:4 or
# 4:2:0); progressive / 12-bit raise NotImplementedError.
# Quantization tables below are the widely-published JPEG example
# tables (T.81 Annex K.1) — but correctness never depends on their
# exact values, because they too travel in the file (DQT).

_JPEG_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def _jpeg_zigzag():
    """The 8x8 zigzag scan GENERATED from its definition (anti-diagonal
    traversal, alternating direction) — returns the list of raster
    indices in zigzag order."""
    order = []
    for s in range(15):
        cells = [(i, s - i) for i in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            cells.reverse()  # even diagonals run bottom-left → top-right
        order.extend(i * 8 + j for i, j in cells)
    return order


def _jpeg_dct_matrix():
    """Orthonormal 8x8 DCT-II matrix T: forward F = T B Tᵀ on the
    level-shifted block, inverse B = Tᵀ F T."""
    import numpy as np

    x = np.arange(8)
    T = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    T[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return T


def _jpeg_own_tables():
    """Our canonical entropy tables (embedded in DHT, read back by any
    conformant decoder): DC = twelve 4-bit codes for categories 0-11
    (baseline DC diff fits 11 bits); AC = all 162 valid (run,size)
    symbols — EOB, ZRL, runs 0-15 × sizes 1-10 — at a flat 8 bits
    (162/256 satisfies Kraft; the last code 0xA1 is not all-ones).
    Flat lengths trade compression for a table no one had to memorize."""
    dc_bits = [0] * 16
    dc_bits[3] = 12  # twelve codes of length 4
    dc_vals = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 162  # 162 codes of length 8
    ac_vals = sorted(
        [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _jpeg_build_codes(bits, vals):
    """T.81 Annex C canonical code construction: symbols get
    consecutive codes in increasing length order. Returns
    {(length, code): symbol}."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[(length, code)] = vals[k]
            k, code = k + 1, code + 1
        code <<= 1
    return codes


class _JpegBitWriter:
    """MSB-first bit emitter with the mandatory 0xFF → 0xFF 0x00 byte
    stuffing; flush pads the final byte with 1-bits (spec convention)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = self.n = 0

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data: un-stuffs
    0xFF 0x00 and stops at any real marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG entropy stream")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("unexpected marker inside entropy stream")
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.bit()
        return v

    def huffdecode(self, codes: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = codes.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _jpeg_scaled_qt(base, quality: int):
    import numpy as np

    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (np.asarray(base, dtype=np.int64) * scale + 50) // 100
    return np.clip(t, 1, 255)


def _jpeg_block_coefs(plane, rows_b, cols_b, qt, zz, T):
    """Pad a component plane to its block grid, forward-DCT + quantize
    every block (vectorized einsum), return (n_blocks, 64) int64
    coefficients in ZIGZAG order, raster block order."""
    import numpy as np

    h, w = plane.shape
    pad = np.pad(
        plane, ((0, rows_b * 8 - h), (0, cols_b * 8 - w)), mode="edge"
    ) - 128.0
    blocks = (
        pad.reshape(rows_b, 8, cols_b, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    F_ = np.einsum("ij,bjk,lk->bil", T, blocks, T)
    quant = np.round(F_ / qt.reshape(8, 8)).astype(np.int64)
    quant = np.clip(quant, -1023, 1023)  # baseline AC size <= 10
    return quant.reshape(-1, 64)[:, zz]


def _jpeg_write_block(bw, coefs, pred, dc_code, ac_code):
    """Entropy-code one zigzag-order block; returns the new DC
    predictor."""
    import numpy as np

    diff = int(coefs[0]) - pred
    size = _jpeg_category(diff)
    length, code = dc_code[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = int(np.max(np.nonzero(coefs)[0])) if np.any(coefs) else 0
    for k in range(1, 64):
        v = int(coefs[k])
        if k > last_nz:
            length, code = ac_code[0x00]  # EOB
            bw.write(code, length)
            break
        if v == 0:
            run += 1
            continue
        while run >= 16:
            length, code = ac_code[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size = _jpeg_category(v)
        length, code = ac_code[(run << 4) | size]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    return int(coefs[0])


def encode_jpeg(pixels, quality: int = 90, subsampling: str = "4:4:4") -> bytes:
    """numpy (h, w, 3) uint8 RGB → baseline JFIF JPEG bytes
    (interleaved, our own DHT tables). ``subsampling`` is "4:4:4"
    (one block per component per MCU) or "4:2:0" (Y at 2x2 per MCU,
    chroma box-averaged 2:1 both axes — the layout nearly every
    real-world JPEG uses, and the one that QUARTERS chroma volume).
    DCT + quantization are vectorized across all blocks (einsum);
    only the entropy coding walks coefficients in Python, and
    gradient-smooth blocks are mostly EOB after the first few
    symbols."""
    import struct

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    if c != 3:
        raise NotImplementedError("encode_jpeg writes 8-bit RGB only")
    if subsampling == "4:4:4":
        samp = [(1, 1), (1, 1), (1, 1)]
    elif subsampling == "4:2:0":
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        raise NotImplementedError("subsampling must be '4:4:4' or '4:2:0'")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    qts = [
        _jpeg_scaled_qt(_JPEG_QT_LUMA, quality),
        _jpeg_scaled_qt(_JPEG_QT_CHROMA, quality),
    ]
    zz = _jpeg_zigzag()
    T = _jpeg_dct_matrix()

    comp_coefs, comp_cols = [], []
    for ci, plane in enumerate(planes):
        hi, vi = samp[ci]
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:  # box-average downsample, edge-padded even
            ph = -(-h // fy) * fy
            pw = -(-w // fx) * fx
            p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
            plane = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        rows_b, cols_b = mcuy * vi, mcux * hi
        comp_coefs.append(
            _jpeg_block_coefs(
                plane, rows_b, cols_b, qts[0 if ci == 0 else 1], zz, T
            )
        )
        comp_cols.append(cols_b)

    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_own_tables()
    dc_code = {
        sym: (length, code)
        for (length, code), sym in _jpeg_build_codes(dc_bits, dc_vals).items()
    }
    ac_code = {
        sym: (length, code)
        for (length, code), sym in _jpeg_build_codes(ac_bits, ac_vals).items()
    }

    bw = _JpegBitWriter()
    pred = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(3):
                hi, vi = samp[ci]
                for by in range(vi):
                    for bx in range(hi):
                        blk = (my * vi + by) * comp_cols[ci] + mx * hi + bx
                        pred[ci] = _jpeg_write_block(
                            bw, comp_coefs[ci][blk], pred[ci], dc_code, ac_code
                        )
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht_body(cls: int, dest: int, bits, vals) -> bytes:
        return bytes([cls << 4 | dest]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(
        0xFFDB,
        b"\x00" + bytes(int(qts[0].reshape(-1)[i]) for i in zz)
        + b"\x01" + bytes(int(qts[1].reshape(-1)[i]) for i in zz),
    )
    sof_comps = []
    for ci in range(3):
        hi, vi = samp[ci]
        sof_comps += [ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1]
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3) + bytes(sof_comps))
    out += seg(
        0xFFC4,
        dht_body(0, 0, dc_bits, dc_vals) + dht_body(1, 0, ac_bits, ac_vals),
    )
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg_pixels(payload: bytes):
    """Baseline/extended-sequential JPEG → (h, w, 3) uint8 RGB (or
    grayscale replicated). General T.81 segment walk: quantization and
    Huffman tables are read from DQT/DHT (so files using the standard
    Annex-K tables decode too), codes built per Annex C; sampling
    factors are honored generically (4:4:4, 4:2:0, 4:2:2 …, any
    integer ratio — chroma is nearest-neighbor upsampled).
    Progressive (SOF2+), 12-bit, arithmetic coding, and restart
    intervals raise NotImplementedError."""
    import struct

    import numpy as np

    if not payload or not payload.startswith(b"\xff\xd8"):
        raise NotImplementedError("not a JPEG payload")
    pos, qts, huff, sof = 2, {}, {}, None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / RSTn
            pos += 2
            continue
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                qts[tq] = np.frombuffer(
                    body, np.uint8, 64, i + 1
                ).astype(np.int64)
                i += 65
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended seq.
            prec, hh, ww, nf = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            comps = [
                (body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i])
                for i in range(nf)
            ]
            sof = (hh, ww, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "progressive/hierarchical/arithmetic JPEG unsupported"
            )
        elif marker == 0xC4:  # DHT — possibly several tables per segment
            i = 0
            while i < len(body):
                cls, dest = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                huff[(cls, dest)] = _jpeg_build_codes(bits, vals)
                i += 17 + n
        elif marker == 0xDD:
            raise NotImplementedError("JPEG restart intervals unsupported")
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
            return _jpeg_decode_scan(
                payload, pos + 2 + ln, sof, scan, qts, huff
            )
        pos += 2 + ln
    raise ValueError("JPEG missing SOS")


def _jpeg_decode_scan(payload, data_pos, sof, scan, qts, huff):
    import numpy as np

    h, w, comps = sof
    if len(comps) not in (1, 3):
        raise NotImplementedError("only 1- or 3-component JPEG supported")
    by_id = {cid: ((samp >> 4, samp & 15), tq) for cid, samp, tq in comps}
    hmax = max(hv[0] for hv, _ in by_id.values())
    vmax = max(hv[1] for hv, _ in by_id.values())
    if any(hmax % hv[0] or vmax % hv[1] for hv, _ in by_id.values()):
        raise NotImplementedError("non-integer JPEG sampling ratios")
    order = []
    for cid, tsel in scan:
        if cid not in by_id:
            raise ValueError("JPEG scan references unknown component")
        (hi, vi), tq = by_id[cid]
        order.append((cid, hi, vi, tq, tsel >> 4, tsel & 15))

    zz = _jpeg_zigzag()
    T = _jpeg_dct_matrix()
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    # per-component block grid. T.81 A.2: in an INTERLEAVED scan
    # (Ns > 1) each MCU carries hi*vi blocks per component over a
    # (mcuy*vi, mcux*hi) grid; a NON-interleaved scan (Ns = 1) always
    # uses one-block MCUs over the COMPONENT's own grid
    # ceil(comp_dims/8), regardless of its sampling factors — real
    # grayscale files sometimes carry 2x2 on their only component.
    grids = {}
    for cid, hi, vi, _, _, _ in order:
        if len(order) > 1:
            grids[cid] = (mcuy * vi, mcux * hi)
        else:
            comp_w, comp_h = -(-w * hi // hmax), -(-h * vi // vmax)
            grids[cid] = (-(-comp_h // 8), -(-comp_w // 8))
    coef = {
        cid: np.zeros((grids[cid][0] * grids[cid][1], 64), np.int64)
        for cid, _, _, _, _, _ in order
    }
    br = _JpegBitReader(payload, data_pos)
    pred = {cid: 0 for cid, _, _, _, _, _ in order}

    def _read_block(cid, blk, dc_codes, ac_codes):
        size = br.huffdecode(dc_codes)
        diff = 0
        if size:
            diff = br.receive(size)
            if diff < (1 << (size - 1)):
                diff -= (1 << size) - 1
        pred[cid] += diff
        coef[cid][blk, 0] = pred[cid]
        k = 1
        while k < 64:
            rs = br.huffdecode(ac_codes)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            v = br.receive(s)
            if v < (1 << (s - 1)):
                v -= (1 << s) - 1
            coef[cid][blk, k] = v
            k += 1

    codes = {}
    for cid, _hi, _vi, _tq, dc_t, ac_t in order:
        dc_codes, ac_codes = huff.get((0, dc_t)), huff.get((1, ac_t))
        if dc_codes is None or ac_codes is None:
            raise ValueError("JPEG scan uses undefined Huffman table")
        codes[cid] = (dc_codes, ac_codes)

    if len(order) > 1:  # interleaved MCU order
        for my in range(mcuy):
            for mx in range(mcux):
                for cid, hi, vi, _tq, _dc, _ac in order:
                    for by in range(vi):
                        for bx in range(hi):
                            blk = (my * vi + by) * grids[cid][1] + mx * hi + bx
                            _read_block(cid, blk, *codes[cid])
    else:  # non-interleaved: raster over the component's own grid
        cid = order[0][0]
        for blk in range(grids[cid][0] * grids[cid][1]):
            _read_block(cid, blk, *codes[cid])

    planes = []
    for cid, hi, vi, tq, _, _ in order:
        if tq not in qts:
            raise ValueError("JPEG component uses undefined quant table")
        # coefficients AND the DQT table are both stored in zigzag
        # order — dequantize elementwise in the zigzag domain, then
        # de-zigzag once into raster 8x8 blocks
        rows_b, cols_b = grids[cid]
        deq = (coef[cid] * qts[tq][None, :]).astype(np.float64)
        spatial = np.zeros((rows_b * cols_b, 64))
        spatial[:, zz] = deq
        spatial = spatial.reshape(-1, 8, 8)
        out = np.einsum("ji,bjk,kl->bil", T, spatial, T) + 128.0
        plane = (
            out.reshape(rows_b, cols_b, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows_b * 8, cols_b * 8)
        )
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:  # nearest-neighbor chroma upsample
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def jpeg_decode(payload: bytes) -> dict:
    """REAL lossy-codec decode: baseline JPEG → pixels →
    the shared ``_rgb_features`` contract (same as ppm/png)."""
    px = decode_jpeg_pixels(payload)
    h, w = px.shape[0], px.shape[1]
    return _rgb_features(px, w, h)


def image_decode(payload: bytes) -> dict:
    """Magic-dispatching image decoder over the real in-container
    codecs: P6 → ``ppm_decode``, \\x89PNG → ``png_decode``,
    \\xff\\xd8 → ``jpeg_decode``. Anything else (WebP/GIF/…) raises
    NotImplementedError — route those rows to a PIL-backed
    ``decoder=`` on a cluster that has it."""
    if payload and payload.startswith(b"P6"):
        return ppm_decode(payload)
    if payload and payload.startswith(_PNG_SIG):
        return png_decode(payload)
    if payload and payload.startswith(b"\xff\xd8"):
        return jpeg_decode(payload)
    raise NotImplementedError(
        "in-container image codecs are binary PPM (P6), 8-bit PNG, and "
        "baseline JPEG; other formats (WebP/GIF/...) need a codec-backed "
        "decoder= (e.g. a Pillow-backed one on a cluster that has Pillow)"
    )


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", FloatType()),
        StructField("rms", FloatType()),
        StructField("zero_crossing_rate", FloatType()),
    ]
)


def wav_decode(payload: bytes) -> dict:
    """REAL audio decode for PCM WAV via stdlib ``wave`` + numpy:
    sample rate / channels / duration plus RMS (normalized to [0, 1])
    and zero-crossing rate — the standard cheap audio-quality signals
    for a training-data pipeline."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        rate, channels, n = wf.getframerate(), wf.getnchannels(), wf.getnframes()
        samples = np.frombuffer(wf.readframes(n), dtype="<i2").astype(np.float64)
    if channels > 1:
        samples = samples.reshape(-1, channels).mean(axis=1)
    x = samples / 32768.0
    zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if len(x) > 1 else 0.0
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "n_samples": len(x),
        "duration_s": len(x) / float(rate),
        "rms": float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
        "zero_crossing_rate": zc,
    }


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched mapInPandas over WAV payloads → AUDIO_SCHEMA —
    same batching contract as ``extract_features``, real decode."""
    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [wav_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    **{
                        k: [f[k] for f in feats]
                        for k in (
                            "sample_rate",
                            "n_channels",
                            "n_samples",
                            "duration_s",
                            "rms",
                            "zero_crossing_rate",
                        )
                    },
                }
            )

    return media.mapInPandas(_batches, AUDIO_SCHEMA)


def _gradient_pixels(text) -> "object":
    """The generative pixel formula shared by every synthesized image
    corpus: dimensions 8..16 and colors derive from md5(text)
    (R ramps over x, G over y, B constant = digest[2]). q54's DuckDB
    oracle replays the SAME formula, so keeping it in ONE place is
    what makes the cross-codec attestation airtight — PPM and PNG
    arms encode literally identical pixel matrices."""
    import numpy as np

    d = hashlib.md5(str(text).encode()).digest()
    w, h = 8 + d[0] % 9, 8 + d[1] % 9
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (xx * 255 // max(w - 1, 1)).astype(np.uint8),
            (yy * 255 // max(h - 1, 1)).astype(np.uint8),
            np.full((h, w), d[2], dtype=np.uint8),
        ],
        axis=-1,
    )


def _synthesize_image_payloads(
    docs: DataFrame, id_col: str, text_col: str, encoder, media_type: str
) -> DataFrame:
    """Common mapInPandas driver for the synthesized image corpora:
    one ``_gradient_pixels`` matrix per doc, pushed through the given
    real encoder (PPM or PNG)."""
    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [encoder(_gradient_pixels(text)) for text in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].values,
                    "payload": payloads,
                    "media_type": [media_type] * len(payloads),
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _batches, MEDIA_SCHEMA
    )


def synthesize_ppm_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """A REAL image corpus from the documents fixture: each row becomes
    a small binary-PPM gradient image whose dimensions and colors
    derive deterministically from the text's md5 — so the decode stage
    exercises an actual codec path end-to-end in-container, and any
    engine re-deriving the same bytes gets identical features."""
    return _synthesize_image_payloads(
        docs, id_col, text_col, encode_ppm, "image/x-portable-pixmap"
    )


def synthesize_png_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The COMPRESSED twin of ``synthesize_ppm_payloads`` (r14): the
    SAME ``_gradient_pixels`` per doc, encoded as real zlib-compressed
    PNG with the filter type cycling 0..4 by row (h ≥ 8 → every PNG
    filter exercised in every image). Decoding both corpora and
    comparing per-doc features bit-exactly — with the PPM arm already
    formula-oracled — transitively attests the whole
    DEFLATE + unfilter pipeline (q54)."""
    return _synthesize_image_payloads(
        docs, id_col, text_col, encode_png, "image/png"
    )


def synthesize_wav_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """A REAL audio corpus from the documents fixture: one mono 16-bit
    PCM WAV per row (stdlib ``wave`` writer), length and tone derived
    from the text's md5 — the decode stage reads real RIFF headers and
    real samples."""
    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                d = hashlib.md5(str(text).encode()).digest()
                rate = 8000
                n = 400 + (d[0] + 256 * d[1]) % 1200
                freq = 100.0 + d[2] * 4.0
                tt = np.arange(n, dtype=np.float64) / rate
                x = (0.5 * np.sin(2 * np.pi * freq * tt) * 32767).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(rate)
                    wf.writeframes(x.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].values,
                    "payload": payloads,
                    "media_type": ["audio/wav"] * len(payloads),
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _batches, MEDIA_SCHEMA
    )


def synthesize_jpeg_payloads(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality: int = 90,
) -> DataFrame:
    """The LOSSY twin of ``synthesize_ppm_payloads`` (r14): the SAME
    ``_gradient_pixels`` per doc, encoded as real baseline JPEG
    (DCT + quantization + Huffman, encode_jpeg). Decoded features
    cannot bit-match the lossless arms — q54 instead pins per-doc
    dimensions EXACT and feature deviation within a bound measured
    across all three SFs (worst observed 0.0121, bound 0.03)."""
    return _synthesize_image_payloads(
        docs,
        id_col,
        text_col,
        lambda px: encode_jpeg(px, quality),
        "image/jpeg",
    )


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], dict] = deterministic_fake_decoder,
) -> DataFrame:
    """Decode + feature-extract via Arrow-batched mapInPandas.

    Batches arrive as pandas DataFrames (payloads as bytes); the
    decoder runs per payload inside the batch loop — the Spark↔Python
    boundary is crossed once per ~10k rows, not once per row. At scale,
    repartition upstream so batches are payload-size balanced."""
    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decoder(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": pdf["media_type"].values,
                    "n_bytes": pdf["n_bytes"].values,
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "feature": [f["feature"] for f in feats],
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)
