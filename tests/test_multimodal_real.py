"""REAL in-container codecs for the multimodal pipeline (r4):
binary-PPM images and PCM WAV audio decode with stdlib + numpy — no
external codec library. These tests verify the codecs round-trip
against known synthesis parameters, not just schema plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators import multimodal as M


def test_ppm_encode_decode_roundtrip():
    px = np.zeros((6, 10, 3), dtype=np.uint8)
    px[:, :, 0] = 200  # red-dominant
    px[2, 3] = (0, 255, 0)
    payload = M.encode_ppm(px)
    meta = M.ppm_decode(payload)
    assert (meta["width"], meta["height"]) == (10, 6)
    # feature = [meanR, meanG, meanB, stdR, stdG, stdB, aspect, brightness]
    assert meta["feature"][0] > meta["feature"][2]
    assert abs(meta["feature"][6] - 10 / 6) < 1e-9
    exp_mean_g = (255 + 0 * 59) / 60 / 255.0
    assert abs(meta["feature"][1] - exp_mean_g) < 1e-9


def test_ppm_decode_rejects_compressed_formats():
    with pytest.raises(NotImplementedError):
        M.ppm_decode(b"\x89PNG\r\n\x1a\n....")


def test_ppm_header_dimension_token_ending_in_255():
    # ADVICE r4: a height of 255 makes the header contain "255\n" twice
    # (`P6\n8 255\n255\n`); a substring search for the maxval line finds
    # the FIRST occurrence inside the dimensions and reads pixels 4
    # bytes off. The header tokenizer must be the source of the offset.
    h, w = 255, 8
    px = (np.arange(h * w * 3, dtype=np.int64) % 251).astype(np.uint8).reshape(h, w, 3)
    payload = M.encode_ppm(px)
    assert payload.count(b"255\n") == 2  # the trap is actually present
    meta = M.ppm_decode(payload)
    assert (meta["width"], meta["height"]) == (w, h)
    # the pixels read at the tokenizer's offset are exactly the encoded ones
    w2, h2, off = M._ppm_header(payload)
    assert (w2, h2) == (w, h)
    opx = np.frombuffer(payload, dtype=np.uint8, offset=off).reshape(h, w, 3)
    assert (opx == px).all()


def _manual_png(pixels, filters):
    """Hand-built PNG, independent of M.encode_png: filters are applied
    with a pure-Python per-byte transcription of the spec formulas
    (ISO/IEC 15948 §9), so a decode match cross-checks the numpy
    unfilter path against an implementation that shares no code with
    it."""
    import struct
    import zlib

    h, w, c = pixels.shape
    bpp = c
    raw = bytearray()
    prev = [0] * (w * bpp)
    for y in range(h):
        row = [int(v) for v in pixels[y].reshape(-1)]
        f = filters[y]
        raw.append(f)
        out = []
        for i in range(len(row)):
            a = row[i - bpp] if i >= bpp else 0  # reconstructed left
            b = prev[i]  # reconstructed up
            cc = prev[i - bpp] if i >= bpp else 0  # upper-left
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
            out.append((row[i] - pred) % 256)
        raw.extend(out)
        prev = row
    color = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + M._png_chunk(b"IEND", b"")
    )


def test_png_encode_decode_roundtrip_matches_ppm_bitexact():
    rng = np.random.default_rng(42)
    for h, w in [(1, 1), (3, 5), (5, 3), (8, 8), (16, 9), (6, 300)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        meta = M.png_decode(M.encode_png(px))
        assert (meta["width"], meta["height"]) == (w, h)
        # same pixels through the uncompressed codec → BIT-identical
        # features (both funnel through _rgb_features): the q54
        # cross-codec attestation property
        assert meta == M.ppm_decode(M.encode_ppm(px))


def test_png_decode_against_independent_spec_transcription():
    # every filter type, verified against the pure-Python per-byte
    # spec formulas (no numpy, no shared code with the decoder)
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(7, 6, 3), dtype=np.uint8)
    for filters in ([0] * 7, [1] * 7, [2] * 7, [3] * 7, [4] * 7, [3, 4, 1, 0, 2, 4, 3]):
        payload = _manual_png(px, filters)
        assert M.png_decode(payload) == M.ppm_decode(M.encode_ppm(px))


def test_png_decode_gray_and_rgba():
    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, size=(5, 4, 1), dtype=np.uint8)
    meta = M.png_decode(_manual_png(gray, [0, 1, 2, 3, 4]))
    # gray replicates to RGB: channel means equal, std equal
    assert meta["feature"][0] == meta["feature"][1] == meta["feature"][2]
    assert abs(meta["feature"][0] - gray.mean() / 255.0) < 1e-12

    rgba = rng.integers(0, 256, size=(5, 4, 4), dtype=np.uint8)
    meta = M.png_decode(_manual_png(rgba, [4, 3, 2, 1, 0]))
    assert meta == M.ppm_decode(M.encode_ppm(rgba[:, :, :3]))


def test_png_decode_palette():
    # hand-built colortype-3 PNG: indexed scanlines + PLTE lookup
    import struct
    import zlib as _z

    rng = np.random.default_rng(21)
    palette = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, size=(6, 5), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(6))
    ihdr = struct.pack(">IIBBBBB", 5, 6, 8, 3, 0, 0, 0)
    payload = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"PLTE", palette.tobytes())
        + M._png_chunk(b"IDAT", _z.compress(raw))
        + M._png_chunk(b"IEND", b"")
    )
    meta = M.png_decode(payload)
    assert meta == M.ppm_decode(M.encode_ppm(palette[idx]))
    # out-of-range index is an error, not silent garbage
    bad_idx = idx.copy()
    bad_idx[0, 0] = 9
    bad_raw = b"".join(b"\x00" + bad_idx[y].tobytes() for y in range(6))
    bad = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"PLTE", palette.tobytes())
        + M._png_chunk(b"IDAT", _z.compress(bad_raw))
        + M._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        M.png_decode(bad)


def test_png_decode_error_gates():
    px = M._gradient_pixels("gate test")
    payload = M.encode_png(px)
    # CRC corruption is CAUGHT, not silently decoded
    bad = bytearray(payload)
    bad[len(bad) // 2] ^= 0x55
    with pytest.raises(ValueError):
        M.png_decode(bytes(bad))
    # truncation
    with pytest.raises((ValueError, Exception)):
        M.png_decode(payload[: len(payload) // 2])
    # non-PNG magic → NotImplementedError (routes to decoder= hook)
    with pytest.raises(NotImplementedError):
        M.png_decode(b"\xff\xd8\xff\xe0JFIF")
    # interlaced IHDR rejected explicitly
    import struct
    import zlib as _z

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    interlaced = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", _z.compress(b"\x00" * 14))
        + M._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="interlace"):
        M.png_decode(interlaced)


def test_jpeg_flat_blocks_decode_exactly():
    # a constant block is DC-only; quantized DC at q90 reconstructs the
    # color transform round trip to within rounding → exact here
    px = np.zeros((8, 16, 3), dtype=np.uint8)
    px[:, :8] = (200, 80, 30)
    px[:, 8:] = (10, 220, 140)
    out = M.decode_jpeg_pixels(M.encode_jpeg(px))
    assert out.shape == px.shape
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 1


def test_jpeg_roundtrip_bounded_error_and_exact_dims():
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (9, 17), (16, 16), (23, 31)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = M.decode_jpeg_pixels(M.encode_jpeg(px, quality=95))
        assert out.shape == (h, w, 3)
    # smooth gradients (the q54 corpus shape) stay close at q90
    for text in ["abc", "hello world", "doc 42"]:
        g = M._gradient_pixels(text)
        out = M.decode_jpeg_pixels(M.encode_jpeg(g))
        assert out.shape == g.shape
        assert np.abs(out.astype(int) - g.astype(int)).max() <= 16


def test_jpeg_deterministic_and_wellformed():
    g = M._gradient_pixels("determinism")
    a, b = M.encode_jpeg(g), M.encode_jpeg(g)
    assert a == b
    assert a.startswith(b"\xff\xd8") and a.endswith(b"\xff\xd9")
    # entropy segment is stuff-clean: no bare 0xFF followed by a
    # non-marker, non-zero byte before EOI (structural conformance)
    meta = M.image_decode(a)
    assert (meta["width"], meta["height"]) == (
        g.shape[1],
        g.shape[0],
    )


def test_jpeg_decoder_reads_foreign_variable_length_tables():
    """Our encoder emits flat-length codes; a conformant decoder must
    also read files carrying OTHER tables from DHT. Re-encode a tiny
    image swapping in a hand-built variable-length DC table (canonical
    per Annex C: lengths 1,2,3,3 for categories 0-3) and a shifted AC
    table, and check the decode still reconstructs the same pixels —
    the Huffman path is exercised on code lengths 1..16, not just 8."""
    import struct

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[:4] = (100, 100, 100)
    px[4:] = (104, 104, 104)
    payload = bytearray(M.encode_jpeg(px))
    baseline = M.decode_jpeg_pixels(bytes(payload))

    # decode the original entropy stream symbol-by-symbol, then
    # re-encode it under new tables
    (dc_bits, dc_vals), (ac_bits, ac_vals) = M._jpeg_own_tables()
    old_dc = M._jpeg_build_codes(dc_bits, dc_vals)
    old_ac = M._jpeg_build_codes(ac_bits, ac_vals)
    # new variable-length tables: DC lengths 2,2,3,4,5,... / AC: one
    # 1-bit code for EOB, the rest at 9 bits (Kraft: 1/2 + 161/512 < 1)
    new_dc_bits = [0] * 16
    new_dc_bits[1] = 2  # categories 0,1 at 2 bits
    new_dc_bits[2] = 2  # categories 2,3 at 3 bits
    new_dc_bits[3] = 8  # categories 4-11 at 4 bits
    new_ac_bits = [0] * 16
    new_ac_bits[0] = 1  # EOB at 1 bit
    new_ac_bits[8] = 161  # everything else at 9 bits
    new_ac_vals = [0x00] + [v for v in ac_vals if v != 0x00]
    new_dc = {
        sym: (ln, code)
        for (ln, code), sym in M._jpeg_build_codes(new_dc_bits, dc_vals).items()
    }
    new_ac = {
        sym: (ln, code)
        for (ln, code), sym in M._jpeg_build_codes(new_ac_bits, new_ac_vals).items()
    }

    # locate segments
    def find_seg(buf, marker):
        i = 2
        while i + 4 <= len(buf):
            m = buf[i + 1]
            (ln,) = struct.unpack_from(">H", buf, i + 2)
            if m == marker:
                return i, ln
            i += 2 + ln
        raise AssertionError("marker not found")

    dht_pos, dht_len = find_seg(payload, 0xC4)
    sos_pos, sos_len = find_seg(payload, 0xDA)
    data = bytes(payload[sos_pos + 2 + sos_len : -2])

    br = M._JpegBitReader(data + b"", 0)
    bw = M._JpegBitWriter()
    for _blk in range(3):  # 8x8 image → 1 MCU × 3 components
        size = br.huffdecode(old_dc)
        ln, code = new_dc[size]
        bw.write(code, ln)
        if size:
            bw.write(br.receive(size), size)
        k = 1
        while k < 64:
            rs = br.huffdecode(old_ac)
            r, s = rs >> 4, rs & 15
            ln, code = new_ac[rs]
            bw.write(code, ln)
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break
            k += r + 1
            bw.write(br.receive(s), s)
    bw.flush()

    new_dht = (
        bytes([0x00]) + bytes(new_dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(new_ac_bits) + bytes(new_ac_vals)
    )
    rebuilt = (
        bytes(payload[:dht_pos])
        + struct.pack(">HH", 0xFFC4, len(new_dht) + 2)
        + new_dht
        + bytes(payload[dht_pos + 2 + dht_len : sos_pos + 2 + sos_len])
        + bytes(bw.out)
        + b"\xff\xd9"
    )
    assert (M.decode_jpeg_pixels(rebuilt) == baseline).all()


def test_jpeg_420_subsampled_roundtrip():
    # 4:2:0 (what real-world JPEGs use): dims exact at odd sizes,
    # luma near-exact even at sharp edges, bounded chroma loss on
    # smooth content
    yy, xx = np.mgrid[0:23, 0:31]
    px = np.stack(
        [xx * 255 // 30, yy * 255 // 22, np.full((23, 31), 77)], axis=-1
    ).astype(np.uint8)
    p420 = M.encode_jpeg(px, subsampling="4:2:0")
    out = M.decode_jpeg_pixels(p420)
    assert out.shape == (23, 31, 3)
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 24
    # chroma volume is quartered: 4:2:0 must encode smaller than 4:4:4
    assert len(p420) < len(M.encode_jpeg(px))
    # a grayscale image stresses only the full-res luma path: sharp
    # edges survive subsampling nearly exactly
    g = np.stack([(xx * 29) % 256] * 3, axis=-1).astype(np.uint8)
    out = M.decode_jpeg_pixels(M.encode_jpeg(g, subsampling="4:2:0"))
    assert np.abs(out.astype(int) - g.astype(int)).max() <= 2
    with pytest.raises(NotImplementedError):
        M.encode_jpeg(px, subsampling="4:1:1")


def _manual_gray_jpeg(gray, samp_byte):
    """Hand-assembled single-component JPEG (gray (h, w) uint8) with
    the given SOF sampling byte — exercises the Ns=1 non-interleaved
    scan path, where T.81 A.2 mandates one-block MCUs over the
    component's own grid REGARDLESS of sampling factors."""
    import struct

    h, w = gray.shape
    zz = M._jpeg_zigzag()
    T = M._jpeg_dct_matrix()
    qt = M._jpeg_scaled_qt(M._JPEG_QT_LUMA, 90)
    rows_b, cols_b = -(-h // 8), -(-w // 8)
    coefs = M._jpeg_block_coefs(gray.astype(np.float64), rows_b, cols_b, qt, zz, T)
    (dc_bits, dc_vals), (ac_bits, ac_vals) = M._jpeg_own_tables()
    dc_code = {
        s: (ln, c) for (ln, c), s in M._jpeg_build_codes(dc_bits, dc_vals).items()
    }
    ac_code = {
        s: (ln, c) for (ln, c), s in M._jpeg_build_codes(ac_bits, ac_vals).items()
    }
    bw = M._JpegBitWriter()
    pred = 0
    for blk in range(rows_b * cols_b):
        pred = M._jpeg_write_block(bw, coefs[blk], pred, dc_code, ac_code)
    bw.flush()

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    return (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes(int(qt.reshape(-1)[i]) for i in zz))
        + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, samp_byte, 0]))
        + seg(
            0xFFC4,
            bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
            + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals),
        )
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(bw.out)
        + b"\xff\xd9"
    )


def test_jpeg_single_component_scan_ignores_sampling_factors():
    rng = np.random.default_rng(17)
    gray = rng.integers(0, 256, size=(12, 10), dtype=np.uint8)
    a = M.decode_jpeg_pixels(_manual_gray_jpeg(gray, 0x11))
    b = M.decode_jpeg_pixels(_manual_gray_jpeg(gray, 0x22))
    # identical coefficients, identical scan layout (Ns=1 → one-block
    # MCUs either way) → identical pixels; a decoder that applied the
    # interleaved 2x2 MCU grid to the 0x22 file would fail loudly
    assert (a == b).all()
    assert a.shape == (12, 10, 3)
    # and the content is a faithful gray decode
    assert np.abs(a[:, :, 0].astype(int) - gray.astype(int)).mean() < 6


def test_jpeg_error_gates():
    g = M._gradient_pixels("gates")
    payload = M.encode_jpeg(g)
    with pytest.raises((ValueError, Exception)):
        M.decode_jpeg_pixels(payload[: len(payload) // 3])
    with pytest.raises(NotImplementedError):
        M.decode_jpeg_pixels(b"\x89PNG\r\n\x1a\n")
    # progressive SOF2 rejected explicitly
    import struct

    i = 2
    prog = bytearray(payload)
    while prog[i + 1] != 0xC0:
        (ln,) = struct.unpack_from(">H", prog, i + 2)
        i += 2 + ln
    prog[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="progressive"):
        M.decode_jpeg_pixels(bytes(prog))


def test_image_decode_dispatch():
    px = M._gradient_pixels("dispatch")
    a = M.image_decode(M.encode_ppm(px))
    b = M.image_decode(M.encode_png(px))
    assert a == b
    jc = M.image_decode(M.encode_jpeg(px))
    assert (jc["width"], jc["height"]) == (a["width"], a["height"])
    assert max(abs(x - y) for x, y in zip(jc["feature"], a["feature"])) <= 0.03
    with pytest.raises(NotImplementedError, match="decoder="):
        M.image_decode(b"RIFF\x00\x00\x00\x00WEBP")


def test_synthesize_png_payloads_spark(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i} body") for i in range(12)]
    )
    png = M.synthesize_png_payloads(docs)
    rows = png.collect()
    assert len(rows) == 12
    for r in rows:
        assert r.media_type == "image/png"
        assert r.n_bytes == len(r.payload)
        assert bytes(r.payload).startswith(M._PNG_SIG)
    # the q54 contract end-to-end: PNG features == PPM features per doc
    both = M.synthesize_ppm_payloads(docs).unionByName(png)
    feats = M.extract_features(both, decoder=M.image_decode)
    n = (
        feats.groupBy("media_id")
        .agg(F.size(F.collect_set("feature")).alias("n_distinct"))
        .agg(F.sum((F.col("n_distinct") == 1).cast("int")).alias("n_equal"))
        .collect()[0]["n_equal"]
    )
    assert n == 12


def test_wav_decode_recovers_synthesis_parameters():
    import io
    import wave

    rate, n, freq = 8000, 800, 200.0
    tt = np.arange(n) / rate
    x = (0.5 * np.sin(2 * np.pi * freq * tt) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(x.tobytes())
    meta = M.wav_decode(buf.getvalue())
    assert meta["sample_rate"] == rate
    assert meta["n_channels"] == 1
    assert meta["n_samples"] == n
    assert abs(meta["duration_s"] - n / rate) < 1e-9
    # sine RMS = amplitude/sqrt(2); zero crossings = 2 per cycle
    assert abs(meta["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(meta["zero_crossing_rate"] - 2 * freq / rate) < 0.005


def test_spark_end_to_end_real_image_and_audio(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} with some content") for i in range(20)]
    )
    imgs = M.synthesize_ppm_payloads(docs)
    feats = {r.media_id: r for r in M.extract_features(imgs, decoder=M.ppm_decode).collect()}
    assert len(feats) == 20
    for r in feats.values():
        assert 8 <= r.width <= 16 and 8 <= r.height <= 16
        # gradient means: R ramps over x, G over y -> both ~0.5
        assert abs(r.feature[0] - 0.5) < 0.1 and abs(r.feature[1] - 0.5) < 0.1

    wavs = M.synthesize_wav_payloads(docs)
    audio = M.extract_audio_features(wavs).collect()
    assert len(audio) == 20
    for r in audio:
        assert r.sample_rate == 8000 and r.n_channels == 1
        assert 400 <= r.n_samples < 1600
        assert abs(r.rms - 0.5 / np.sqrt(2)) < 0.02
