"""Real-codec tests for ``operators/multimodal.py``: its module-level
image decoders (PNG with every filter, bit depth and Adam7; baseline,
progressive and subsampled JPEG with restart markers; GIF; BMP; TIFF
with LZW, Deflate and predictor 2), its WAV decoders (PCM, mu-law, IMA
ADPCM), AVI/MJPEG frames and the audio features (power spectrum,
STFT, mel bands, MFCC, spectral shape and flux, zero-crossing rate).

Each codec is called directly and, for the Spark seam, through
``decode_image_features`` / ``decode_audio_features`` (``fake=False``)
and the other ``mapInPandas`` entry points.  The encoders here are
test fixtures (we built them, so we know the ground truth), and
malformed or truncated payloads must decode to NULL.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from financial_data_stream_processing_engine_spark.operators import multimodal

pytestmark = pytest.mark.usefixtures("spark")


# ---------------------------------------------------------------------------
# test-side PNG encoder (any filter per row, all color types)
# ---------------------------------------------------------------------------


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _filter_row(f: int, raw: np.ndarray, prev: np.ndarray, bpp: int) -> bytes:
    line = raw.astype(np.int32)
    if f == 0:
        out = line
    elif f == 1:
        a = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]]) if len(line) > bpp else np.zeros_like(line)
        out = line - a
    elif f == 2:
        out = line - prev
    elif f == 3:
        a = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]]) if len(line) > bpp else np.zeros_like(line)
        out = line - ((a + prev) >> 1)
    elif f == 4:
        out = np.empty_like(line)
        for x in range(len(line)):
            a = int(line[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[x] = line[x] - pr
    else:
        raise ValueError(f)
    return bytes([f]) + bytes((out & 0xFF).astype(np.uint8))


def make_png(
    pixels: np.ndarray, ctype: int, filters: list[int], palette: np.ndarray | None = None
) -> bytes:
    """pixels: (h, w, nch) uint8 (nch matching ctype); one filter per row."""
    h, w, nch = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw_rows = pixels.reshape(h, w * nch)
    scan = b""
    prev = np.zeros(w * nch, np.int32)
    for y in range(h):
        scan += _filter_row(filters[y % len(filters)], raw_rows[y], prev, nch)
        prev = raw_rows[y].astype(np.int32)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += _chunk(b"IDAT", zlib.compress(scan)) + _chunk(b"IEND", b"")
    return out


def make_wav(samples: np.ndarray, rate: int, sampwidth: int, nch: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(sampwidth)
        wf.setframerate(rate)
        if sampwidth == 2:
            wf.writeframes(samples.astype("<i2").tobytes())
        else:
            wf.writeframes(samples.astype(np.uint8).tobytes())
    return buf.getvalue()


def _decode_images(spark, payloads: list[bytes]):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("image").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    rows = multimodal.decode_image_features(media, fake=False).collect()
    return {r["media_id"]: r for r in rows}


rng = np.random.default_rng(7)


def test_png_all_filters_and_color_types(spark):
    gray = rng.integers(0, 256, (6, 8, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (4, 4, 4), dtype=np.uint8)
    graya = rng.integers(0, 256, (3, 9, 2), dtype=np.uint8)
    pal_idx = rng.integers(0, 16, (5, 5, 1), dtype=np.uint8)
    palette = rng.integers(0, 256, (16, 3), dtype=np.uint8)

    payloads = [
        make_png(gray, 0, [0, 1, 2, 3, 4]),
        make_png(rgb, 2, [4, 3, 2, 1, 0]),
        make_png(rgba, 6, [1, 4, 2, 3]),
        make_png(graya, 4, [2, 4, 1]),
        make_png(pal_idx, 3, [0, 1, 4], palette=palette),
    ]
    out = _decode_images(spark, payloads)

    def luma(px):
        px = px.astype(np.float64)
        if px.shape[-1] >= 3:
            return float(
                (0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]).mean()
                / 255.0
            )
        return float(px[..., 0].mean() / 255.0)

    for mid, px, nch in [
        (0, gray, 1), (1, rgb, 3), (2, rgba, 4), (3, graya, 2),
        (4, palette[pal_idx.reshape(5, 5)], 1),
    ]:
        r = out[mid]
        h, w = (px.shape[0], px.shape[1])
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, nch), mid
        assert r["mean_luma"] == pytest.approx(luma(px), abs=1e-12), mid


def test_png_malformed_payloads_yield_nulls(spark):
    good = make_png(rng.integers(0, 256, (2, 2, 1), dtype=np.uint8), 0, [0])
    payloads = [
        b"\xff\xd8\xff\xe0 not a png",          # JPEG-ish magic
        good[:20],                                # truncated mid-IHDR
        good[:8] + good[8:].replace(b"IDAT", b"IDAX"),  # no IDAT
        b"",
        good,                                     # control: still decodes
    ]
    out = _decode_images(spark, payloads)
    for mid in range(4):
        r = out[mid]
        assert r["width"] is None and r["mean_luma"] is None, mid
    assert out[4]["width"] == 2


def _make_baseline_jpeg(dc: int, ac_zigzag: dict[int, int], quant: int = 1) -> bytes:
    """Hand-assembled 8×8 single-block baseline grayscale JPEG with the
    given quantized DC value and {zigzag_index: value} AC coefficients —
    exercises run/size coding, ZRL, and EOB in the decoder."""
    import struct

    # symbols actually emitted, canonical-coded
    sym_lengths: list[tuple[int, int]] = []  # (symbol, length)
    used: list[int] = [0x00]  # EOB
    ki = 1
    runs: list[tuple[int, int, int]] = []  # (symbol, size, value)
    idx = sorted(ac_zigzag)
    pos = 1
    for k in idx:
        run = k - pos
        while run > 15:
            runs.append((0xF0, 0, 0))
            if 0xF0 not in used:
                used.append(0xF0)
            run -= 16
        v = ac_zigzag[k]
        size = abs(v).bit_length()
        sym = (run << 4) | size
        runs.append((sym, size, v))
        if sym not in used:
            used.append(sym)
        pos = k + 1
    # canonical table: give every used symbol the same length L with
    # 2^L >= n_symbols + 1 (keep the all-ones code unused per JPEG)
    L = max(2, (len(used) + 1).bit_length())
    ac_bits = [0] * 16
    ac_bits[L - 1] = len(used)
    ac_vals = list(used)
    codes = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(ac_bits[ln - 1]):
            codes[ac_vals[vi]] = (ln, code)
            code += 1
            vi += 1
        code <<= 1
    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    dc_codes = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(dc_bits[ln - 1]):
            dc_codes[dc_vals[vi]] = (ln, code)
            code += 1
            vi += 1
        code <<= 1

    out = bytearray()
    acc = [0, 0]

    def put(val: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            acc[0] = (acc[0] << 1) | ((val >> i) & 1)
            acc[1] += 1
            if acc[1] == 8:
                out.append(acc[0])
                if acc[0] == 0xFF:
                    out.append(0x00)
                acc[0], acc[1] = 0, 0

    size = abs(dc).bit_length() if dc else 0
    ln_, cd = dc_codes[size]
    put(cd, ln_)
    if size:
        put(dc if dc > 0 else dc + (1 << size) - 1, size)
    for sym, size, v in runs:
        ln_, cd = codes[sym]
        put(cd, ln_)
        if size:
            put(v if v > 0 else v + (1 << size) - 1, size)
    ln_, cd = codes[0x00]
    put(cd, ln_)  # EOB
    if acc[1]:
        out.append((acc[0] << (8 - acc[1])) | ((1 << (8 - acc[1])) - 1))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(out)
        + b"\xff\xd9"
    )


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _reference_idct_block(dc: int, ac_zigzag: dict[int, int], quant: int) -> np.ndarray:
    """Independent direct-form IDCT (per-pixel cosine sum, not the
    operator's matrix factorization)."""
    coeff = np.zeros(64)
    coeff[_JPEG_ZIGZAG[0]] = dc * quant
    for k, v in ac_zigzag.items():
        coeff[_JPEG_ZIGZAG[k]] = v * quant
    co = coeff.reshape(8, 8)
    px = np.zeros((8, 8))
    c = lambda u: (1 / np.sqrt(2) if u == 0 else 1.0)  # noqa: E731
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += (
                        c(u) * c(v) / 4.0 * co[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            px[x, y] = s
    return np.clip(np.rint(px + 128.0), 0, 255)


def test_jpeg_ac_run_size_zrl_and_quant(spark):
    """Decode JPEGs whose AC coefficients exercise run/size coding,
    a ZRL (16-zero run), and a non-trivial quant table; expected pixels
    from an independent direct-form IDCT."""
    cases = [
        (100, {1: 5, 5: -3, 24: 1}, 1),    # runs of 0 and 3, plus ZRL-ish gap
        (-50, {2: 7, 40: -2}, 1),          # long gap -> ZRL + remainder run
        (30, {1: 3, 3: -1}, 4),            # quant scaling applied to DC and AC
    ]
    payloads = [_make_baseline_jpeg(dc, ac, q) for dc, ac, q in cases]
    out = _decode_images(spark, payloads)
    for mid, (dc, ac, q) in enumerate(cases):
        r = out[mid]
        assert (r["width"], r["height"], r["n_channels"]) == (8, 8, 1), mid
        exp = _reference_idct_block(dc, ac, q).mean() / 255.0
        assert r["mean_luma"] == pytest.approx(exp, abs=1e-9), mid


def test_wav_decode_16bit_stereo_and_8bit_mono(spark):
    s16 = rng.integers(-32768, 32768, 2000, dtype=np.int64)
    s8 = rng.integers(0, 256, 333, dtype=np.int64)
    payloads = [
        make_wav(s16, rate=44100, sampwidth=2, nch=2),
        make_wav(s8, rate=8000, sampwidth=1, nch=1),
        b"RIFFnot-really-a-wav",
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("audio").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    out = {r["media_id"]: r for r in multimodal.decode_audio_features(media, fake=False).collect()}

    r = out[0]
    # 2000 samples over 2 channels = 1000 frames
    assert (r["sample_rate"], r["n_samples"]) == (44100, 1000)
    assert r["duration_s"] == pytest.approx(1000 / 44100, abs=1e-12)
    exp_rms = float(np.sqrt(np.mean((s16.astype(np.float64) / 32768.0) ** 2)))
    assert r["rms"] == pytest.approx(exp_rms, abs=1e-12)

    r = out[1]
    assert (r["sample_rate"], r["n_samples"]) == (8000, 333)
    exp_rms = float(np.sqrt(np.mean(((s8.astype(np.float64) - 128) / 128.0) ** 2)))
    assert r["rms"] == pytest.approx(exp_rms, abs=1e-12)

    assert out[2]["sample_rate"] is None and out[2]["rms"] is None


def test_png_nearest_neighbor_resize(spark):
    rgb = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
    payloads = [make_png(rgb, 2, [0, 1, 2, 3, 4]), b"not a png"]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("image").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    out = {
        r["media_id"]: r
        for r in multimodal.decode_image_resized(media, out_w=4, out_h=3).collect()
    }
    r = out[0]
    assert (r["src_width"], r["src_height"]) == (8, 6)
    assert (r["out_width"], r["out_height"]) == (4, 3)
    rows = (np.arange(3) * 6) // 3
    cols = (np.arange(4) * 8) // 4
    resized = rgb[rows][:, cols].astype(np.float64)
    exp = float(
        (0.299 * resized[..., 0] + 0.587 * resized[..., 1] + 0.114 * resized[..., 2])
        .mean() / 255.0
    )
    assert r["mean_luma"] == pytest.approx(exp, abs=1e-12)
    assert out[1]["mean_luma"] is None  # per-row isolation intact


def _make_color_jpeg(y_px: list[int], cb_px: list[int], cr_px: list[int],
                     hv: int = 0x11) -> bytes:
    """Hand-assembled multi-MCU baseline 4:4:4 color JPEG (16×8 for two
    MCUs), DC-only blocks per component — exercises the interleaved MCU
    walk and the per-component DC predictors."""
    import struct

    n_mcu = len(y_px)
    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    dc_codes = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(dc_bits[ln - 1]):
            dc_codes[dc_vals[vi]] = (ln, code)
            code += 1
            vi += 1
        code <<= 1

    out = bytearray()
    acc = [0, 0]

    def put(val: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            acc[0] = (acc[0] << 1) | ((val >> i) & 1)
            acc[1] += 1
            if acc[1] == 8:
                out.append(acc[0])
                if acc[0] == 0xFF:
                    out.append(0x00)
                acc[0], acc[1] = 0, 0

    preds = [0, 0, 0]
    for m in range(n_mcu):
        for ci, plane in enumerate((y_px, cb_px, cr_px)):
            dc = 8 * (plane[m] - 128)
            diff = dc - preds[ci]
            preds[ci] = dc
            size = abs(diff).bit_length() if diff else 0
            ln_, cd = dc_codes[size]
            put(cd, ln_)
            if size:
                put(diff if diff > 0 else diff + (1 << size) - 1, size)
            put(0, 1)  # EOB (code '0' in the 1-entry AC table)
    if acc[1]:
        out.append((acc[0] << (8 - acc[1])) | ((1 << (8 - acc[1])) - 1))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8 * n_mcu, 3)
              + bytes([1, hv, 0, 2, 0x11, 0, 3, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00]))
        + seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + bytes(out)
        + b"\xff\xd9"
    )


def test_jpeg_color_interleaved_mcus_and_bt601(spark):
    """Two-MCU 4:4:4 color JPEG: per-component DC prediction across
    MCUs and the JFIF YCbCr→RGB conversion, against an independent
    numpy restatement."""
    y, cb, cr = [100, 200], [30, 140], [200, 90]
    out = _decode_images(spark, [_make_color_jpeg(y, cb, cr)])
    r = out[0]
    assert (r["width"], r["height"], r["n_channels"]) == (16, 8, 3)
    lumas = []
    for yv, cbv, crv in zip(y, cb, cr):
        rr = np.clip(np.rint(yv + 1.402 * (crv - 128)), 0, 255)
        gg = np.clip(np.rint(yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128)), 0, 255)
        bb = np.clip(np.rint(yv + 1.772 * (cbv - 128)), 0, 255)
        lumas.append(0.299 * rr + 0.587 * gg + 0.114 * bb)
    assert r["mean_luma"] == pytest.approx(np.mean(lumas) / 255.0, abs=1e-9)


def test_jpeg_420_subsampled_decodes(spark):
    """REAL 4:2:0 decode (the dominant real-world chroma layout):
    generated one-MCU 16×16 fixture — four diff-coded Y blocks plus
    2×-upsampled constant chroma — must yield exactly the four
    constant RGB quadrants the md5 bytes dictate."""
    import hashlib

    from financial_data_stream_processing_engine_spark.plans.media_fixtures import jpeg_420

    ids = [306, 466, 7]
    out = _decode_images(spark, [jpeg_420(did) for did in ids])
    for i, did in enumerate(ids):
        r = out[i]
        assert (r["width"], r["height"], r["n_channels"]) == (16, 16, 3)
        d = hashlib.md5(str(did).encode()).digest()
        cb, cr = d[4] - 128.0, d[5] - 128.0
        lumas = []
        for q in range(4):
            rr = np.clip(np.rint(d[q] + 1.402 * cr), 0, 255)
            gg = np.clip(np.rint(d[q] - 0.344136 * cb - 0.714136 * cr), 0, 255)
            bb = np.clip(np.rint(d[q] + 1.772 * cb), 0, 255)
            lumas.append(0.299 * rr + 0.587 * gg + 0.114 * bb)
        assert r["mean_luma"] == pytest.approx(np.mean(lumas) / 255.0, abs=1e-12)


def test_jpeg_truncated_subsampled_scan_yields_null(spark):
    """A frame header claiming 2×2 luma sampling over a scan that only
    carries 4:4:4-shaped data must NULL out, not mis-decode."""
    out = _decode_images(spark, [_make_color_jpeg([100], [30], [200], hv=0x22)])
    assert out[0]["width"] is None and out[0]["mean_luma"] is None


def _make_subsampled_jpeg(y_blocks: list[int], cb: int, cr: int,
                          hv: int, w: int, h: int) -> bytes:
    """One-MCU baseline JPEG with luma sampling ``hv`` (0x21 = 4:2:2,
    0x12 = 4:4:0, 0x22 = 4:2:0): ``y_blocks`` DC-only Y blocks in MCU
    scan order (diff-coded off the shared predictor) + one Cb + one Cr."""
    import struct

    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    dc_codes = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(dc_bits[ln - 1]):
            dc_codes[dc_vals[vi]] = (ln, code)
            code += 1
            vi += 1
        code <<= 1

    out = bytearray()
    acc = [0, 0]

    def put(val: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            acc[0] = (acc[0] << 1) | ((val >> i) & 1)
            acc[1] += 1
            if acc[1] == 8:
                out.append(acc[0])
                if acc[0] == 0xFF:
                    out.append(0x00)
                acc[0], acc[1] = 0, 0

    def put_dc(diff: int) -> None:
        size = abs(diff).bit_length() if diff else 0
        ln_, cd = dc_codes[size]
        put(cd, ln_)
        if size:
            put(diff if diff > 0 else diff + (1 << size) - 1, size)
        put(0, 1)  # EOB

    pred = 0
    for yv in y_blocks:
        dc = 8 * (yv - 128)
        put_dc(dc - pred)
        pred = dc
    for c in (cb, cr):
        put_dc(8 * (c - 128))
    if acc[1]:
        out.append((acc[0] << (8 - acc[1])) | ((1 << (8 - acc[1])) - 1))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, h, w, 3)
              + bytes([1, hv, 0, 2, 0x11, 0, 3, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00]))
        + seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + bytes(out)
        + b"\xff\xd9"
    )


def test_jpeg_422_and_440_decode(spark):
    """4:2:2 (2×1 luma) and 4:4:0 (1×2 luma) — the other two
    subsampled layouts the generalized MCU walk must place and
    upsample correctly."""
    cb, cr = 30, 200
    lumas = []
    for yv in (100, 200):
        rr = np.clip(np.rint(yv + 1.402 * (cr - 128)), 0, 255)
        gg = np.clip(np.rint(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), 0, 255)
        bb = np.clip(np.rint(yv + 1.772 * (cb - 128)), 0, 255)
        lumas.append(0.299 * rr + 0.587 * gg + 0.114 * bb)
    expected = np.mean(lumas) / 255.0

    j422 = _make_subsampled_jpeg([100, 200], cb, cr, hv=0x21, w=16, h=8)
    j440 = _make_subsampled_jpeg([100, 200], cb, cr, hv=0x12, w=8, h=16)
    out = _decode_images(spark, [j422, j440])
    assert (out[0]["width"], out[0]["height"], out[0]["n_channels"]) == (16, 8, 3)
    assert (out[1]["width"], out[1]["height"], out[1]["n_channels"]) == (8, 16, 3)
    # each image is two constant half-planes → mean luma identical
    assert out[0]["mean_luma"] == pytest.approx(expected, abs=1e-12)
    assert out[1]["mean_luma"] == pytest.approx(expected, abs=1e-12)


# ---------------------------------------------------------------------------
# Adam7 interlaced PNG
# ---------------------------------------------------------------------------

_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def make_png_adam7(
    pixels: np.ndarray, ctype: int, palette: np.ndarray | None = None
) -> bytes:
    """Interlaced twin of make_png: seven independently-filtered Adam7
    passes, rotating filter (pass + row) % 5; empty passes omitted."""
    h, w, nch = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
    scan = b""
    for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = pixels[y0::dy, x0::dx, :]
        hs, ws = sub.shape[0], sub.shape[1]
        if hs == 0 or ws == 0:
            continue
        raw_rows = sub.reshape(hs, ws * nch)
        prev = np.zeros(ws * nch, np.int32)
        for y in range(hs):
            scan += _filter_row((pi + y) % 5, raw_rows[y], prev, nch)
            prev = raw_rows[y].astype(np.int32)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += _chunk(b"IDAT", zlib.compress(scan)) + _chunk(b"IEND", b"")
    return out


def test_png_adam7_pixel_positions(spark):
    """Scatter correctness pixel-for-pixel — a mean-based roundtrip
    cannot see a transposed or mis-strided pass; this can."""
    decode = multimodal.decode_png
    # asymmetric gradient: every pixel value unique → any mis-scatter
    # lands a wrong value somewhere
    gray = (np.arange(64, dtype=np.uint8).reshape(8, 8, 1) * 3 + 7) % 256
    got = decode(make_png_adam7(gray, 0))
    assert got is not None
    px, nch = got
    assert nch == 1 and px.shape == (8, 8, 1)
    assert np.array_equal(px.astype(np.uint8), gray)

    rgb = rng.integers(0, 256, (10, 13, 3), dtype=np.uint8)  # odd dims
    px, nch = decode(make_png_adam7(rgb, 2))
    assert nch == 3 and px.shape == (10, 13, 3)
    assert np.array_equal(px.astype(np.uint8), rgb)

    tiny = rng.integers(0, 256, (1, 1, 1), dtype=np.uint8)  # only pass 1
    px, nch = decode(make_png_adam7(tiny, 0))
    assert np.array_equal(px.astype(np.uint8), tiny)

    tall = rng.integers(0, 256, (9, 2, 1), dtype=np.uint8)  # empty passes
    px, nch = decode(make_png_adam7(tall, 0))
    assert np.array_equal(px.astype(np.uint8), tall)


def test_png_adam7_through_spark_path(spark):
    rgba = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    out = _decode_images(
        spark,
        [
            make_png_adam7(rgba, 6),
            make_png(rgba, 6, [1, 2, 3, 4]),  # non-interlaced control
        ],
    )
    interlaced, plain = out[0], out[1]
    assert (interlaced["width"], interlaced["height"], interlaced["n_channels"]) == (5, 6, 4)
    assert interlaced["mean_luma"] == pytest.approx(plain["mean_luma"], abs=0)


def test_png_adam7_truncated_pass_yields_null(spark):
    gray = rng.integers(0, 256, (8, 8, 1), dtype=np.uint8)
    good = make_png_adam7(gray, 0)
    # re-parse the chunks, truncate the filtered stream mid-pass, and
    # rebuild: the decoder must reject (None), not mis-scatter
    decode = multimodal.decode_png
    pos, chunks = 8, {}
    while pos + 8 <= len(good):
        ln, typ = struct.unpack(">I4s", good[pos : pos + 8])
        chunks[typ] = good[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + 4
    scan = zlib.decompress(chunks[b"IDAT"])
    rebuilt = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", chunks[b"IHDR"])
        + _chunk(b"IDAT", zlib.compress(scan[: len(scan) - 10]))
        + _chunk(b"IEND", b"")
    )
    assert decode(rebuilt) is None


# ---------------------------------------------------------------------------
# progressive (SOF2) JPEG
# ---------------------------------------------------------------------------

_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))


def _enc_map(bits, vals):
    m, code, vi = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            m[vals[vi]] = (ln, code)
            code += 1
            vi += 1
        code <<= 1
    return m


class _BW:
    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def put(self, val, ln):
        for i in range(ln - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def code(self, m, sym):
        ln, cd = m[sym]
        self.put(cd, ln)

    def flush(self):
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def _jseg(marker, payload):
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _jdht(tc, th, bits, vals):
    return _jseg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))


def _jsos(tdta, ss, se, ah, al):
    return _jseg(0xDA, bytes([1, 1, tdta, ss, se, ah << 4 | al]))


def make_progressive_jpeg(dcs, ac2, ac10):
    """16×16 grayscale SOF2: 4 blocks with full-precision DC ``dcs``,
    AC at zigzag 2 = ``ac2`` (blocks 0,1; |v| ≤ 3, sent as high bit at
    Al=1 + refinement correction bit), AC at zigzag 10 = ``ac10``
    (blocks 2,3; ±1, newly significant in refinement).  Six scans with
    a mid-stream DHT redefinition — the same layout as the catalog
    fixture generator, but with the correction-bit=1 (|v|=3) case
    reachable."""
    A0_1B, A0_1V = [1, 2] + [0] * 14, [0x11, 0x00, 0x10]
    A1_1B, A1_1V = [1] + [0] * 15, [0x20]
    A0_2B, A0_2V = [1] + [0] * 15, [0x20]
    A1_2B, A1_2V = [1, 2] + [0] * 14, [0x41, 0x00, 0x10]
    DC = _enc_map(_DC_BITS, _DC_VALS)
    AC0_V1, AC1_V1 = _enc_map(A0_1B, A0_1V), _enc_map(A1_1B, A1_1V)
    AC0_V2, AC1_V2 = _enc_map(A0_2B, A0_2V), _enc_map(A1_2B, A1_2V)

    out = bytearray(
        b"\xff\xd8"
        + _jseg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + _jseg(0xC2, struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]))
        + _jdht(0, 0, _DC_BITS, _DC_VALS)
        + _jdht(1, 0, A0_1B, A0_1V)
        + _jdht(1, 1, A1_1B, A1_1V)
    )
    bw, pred = _BW(), 0
    for dc in dcs:  # scan 1: DC first, Al=1
        v = dc >> 1
        diff, pred = v - pred, v
        size = abs(diff).bit_length()
        bw.code(DC, size)
        if size:
            bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)
    out += _jsos(0x00, 0, 0, 0, 1) + bw.flush()
    bw = _BW()
    for b in (0, 1):  # scan 2: AC 1-5 first, Al=1
        bw.code(AC0_V1, 0x11)
        bw.put(1 if ac2[b] > 0 else 0, 1)
        bw.code(AC0_V1, 0x00)
    bw.code(AC0_V1, 0x10)
    bw.put(0, 1)
    out += _jsos(0x00, 1, 5, 0, 1) + bw.flush()
    bw = _BW()  # scan 3: AC 6-63 first — EOB4
    bw.code(AC1_V1, 0x20)
    bw.put(0, 2)
    out += _jsos(0x01, 6, 63, 0, 1) + bw.flush()
    out += _jdht(1, 0, A0_2B, A0_2V) + _jdht(1, 1, A1_2B, A1_2V)
    bw = _BW()  # scan 4: AC 1-5 refine — corrections inside EOB4 run
    bw.code(AC0_V2, 0x20)
    bw.put(0, 2)
    for b in (0, 1):
        bw.put(abs(ac2[b]) & 1, 1)
    out += _jsos(0x00, 1, 5, 1, 0) + bw.flush()
    bw = _BW()  # scan 5: AC 6-63 refine — newly-significant ±1
    bw.code(AC1_V2, 0x10)
    bw.put(0, 1)
    for b in (0, 1):
        bw.code(AC1_V2, 0x41)
        bw.put(1 if ac10[b] > 0 else 0, 1)
        bw.code(AC1_V2, 0x00)
    out += _jsos(0x01, 6, 63, 1, 0) + bw.flush()
    bw = _BW()  # scan 6: DC refine
    for dc in dcs:
        bw.put(dc & 1, 1)
    out += _jsos(0x00, 0, 0, 1, 0) + bw.flush()
    return bytes(out + b"\xff\xd9")


def _idct_ref(zz):
    """Reference: dezigzag (q=1) + orthonormal IDCT + level shift."""
    ZIGZAG = np.array([
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ])
    k = np.arange(8, dtype=np.float64)
    C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * np.where(
        k[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8)
    )
    coeff = np.zeros(64)
    coeff[ZIGZAG] = zz
    return C.T @ coeff.reshape(8, 8) @ C + 128.0


def test_jpeg_progressive_refinement_and_correction_bits(spark):
    """The |v|=3 case: the AC coefficient's high bit arrives in the
    first band scan, its LSB via refine_nz (correction bit 1) — plus an
    odd DC whose LSB arrives only in the DC refinement scan, and
    negative newly-significant insertion."""
    decode = multimodal.decode_jpeg
    dcs = [117, -200, 83, -45]          # odd and even, both signs
    ac2 = [3, -3]                        # correction bit = 1 both
    ac10 = [-1, 1]
    px, nch = decode(make_progressive_jpeg(dcs, ac2, ac10))
    assert nch == 1 and px.shape == (16, 16, 1)
    exp = np.zeros((16, 16))
    coef = [
        {0: dcs[0], 2: ac2[0]}, {0: dcs[1], 2: ac2[1]},
        {0: dcs[2], 10: ac10[0]}, {0: dcs[3], 10: ac10[1]},
    ]
    for i, (by, bx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        zz = np.zeros(64)
        for kk, v in coef[i].items():
            zz[kk] = v
        exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_ref(zz)
    assert np.array_equal(px[:, :, 0], np.clip(np.rint(exp), 0, 255))


def test_jpeg_progressive_without_refinement_scans(spark):
    """Prefix decodability: dropping the three refinement scans must
    still decode (coarse approximation), with each DC at its Al=1
    precision and the ±1 coefficients absent."""
    decode = multimodal.decode_jpeg
    dcs = [117, -200, 83, -45]
    full = make_progressive_jpeg(dcs, [3, -3], [-1, 1])
    # cut at the mid-stream DHT (first 3 scans survive) + EOI
    cut = full.find(b"\xff\xc4", full.find(b"\xff\xda"))
    assert cut > 0
    px, nch = decode(full[:cut] + b"\xff\xd9")
    exp = np.zeros((16, 16))
    coarse = [
        {0: (dcs[0] >> 1) << 1, 2: 2}, {0: (dcs[1] >> 1) << 1, 2: -2},
        {0: (dcs[2] >> 1) << 1}, {0: (dcs[3] >> 1) << 1},
    ]
    for i, (by, bx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        zz = np.zeros(64)
        for kk, v in coarse[i].items():
            zz[kk] = v
        exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_ref(zz)
    assert np.array_equal(px[:, :, 0], np.clip(np.rint(exp), 0, 255))


def test_jpeg_progressive_truncated_scan_yields_null(spark):
    decode = multimodal.decode_jpeg
    full = make_progressive_jpeg([116, -200, 82, -44], [2, -2], [-1, 1])
    # truncate the first scan's entropy data mid-bits: EOF → None
    first_sos = full.find(b"\xff\xda")
    assert decode(full[: first_sos + 14] + b"\xff\xd9") is None


# ---------------------------------------------------------------------------
# restart markers (DRI / RSTn)
# ---------------------------------------------------------------------------


def _dc_diff_bits(bw, DC, diff):
    size = abs(diff).bit_length()
    bw.code(DC, size)
    if size:
        bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)


def _build_prog_rst(dcs, sri=2, eob_span=1, with_rst=True, with_dri=True):
    DC = _enc_map(_DC_BITS, _DC_VALS)
    acb, acv = [0, 2] + [0] * 14, [0x00, 0x10]
    AC = _enc_map(acb, acv)
    out = bytearray(
        b"\xff\xd8"
        + _jseg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + _jseg(0xC2, struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]))
        + _jdht(0, 0, _DC_BITS, _DC_VALS)
        + _jdht(1, 0, acb, acv)
    )
    if with_dri:
        out += _jseg(0xDD, struct.pack(">H", sri))
    # scan 1: DC first (Al=0) — one BitWriter per restart segment
    out += _jsos(0x00, 0, 0, 0, 0)
    for s0 in range(0, len(dcs), sri):
        if s0 and with_rst:
            out += bytes([0xFF, 0xD0 + ((s0 // sri - 1) % 8)])
        bw, pred = _BW(), 0  # predictor resets per segment
        for dc in dcs[s0 : s0 + sri]:
            _dc_diff_bits(bw, DC, dc - pred)
            pred = dc
        out += bw.flush()
    # scan 2: AC band 1-63 first (Al=0), all-zero coefficients
    out += _jsos(0x00, 1, 63, 0, 0)
    for s0 in range(0, len(dcs), sri):
        if s0 and with_rst:
            out += bytes([0xFF, 0xD0 + ((s0 // sri - 1) % 8)])
        bw = _BW()
        blk = s0
        while blk < min(s0 + sri, len(dcs)):
            if blk == 0 and eob_span > 1:
                bw.code(AC, 0x10)  # EOBn r=1: run = 2 + bit
                bw.put(eob_span - 2, 1)
                blk += eob_span
            else:
                bw.code(AC, 0x00)
                blk += 1
        out += bw.flush()
    return bytes(out + b"\xff\xd9")


def test_jpeg_progressive_restart_markers(spark):
    decode = multimodal.decode_jpeg
    dcs = [117, -200, 83, -45]
    px, nch = decode(_build_prog_rst(dcs, sri=2))
    assert nch == 1 and px.shape == (16, 16, 1)
    exp = np.zeros((16, 16))
    for i, (by, bx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        zz = np.zeros(64)
        zz[0] = dcs[i]
        exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_ref(zz)
    assert np.array_equal(px[:, :, 0], np.clip(np.rint(exp), 0, 255))


def test_jpeg_restart_malformed_variants_yield_null(spark):
    decode = multimodal.decode_jpeg
    dcs = [117, -200, 83, -45]
    # DRI declared but RST markers absent: segment exhaustion → None
    assert decode(_build_prog_rst(dcs, sri=2, with_rst=False)) is None
    # RST markers present without any DRI → None
    assert decode(_build_prog_rst(dcs, sri=2, with_dri=False)) is None
    # an EOB run spanning a restart boundary is nonconforming → None
    assert decode(_build_prog_rst(dcs, sri=2, eob_span=3)) is None


def test_jpeg_baseline_restart_spark_path(spark):
    """Baseline DRI=1 fixture through the real mapInPandas decode: the
    per-MCU absolute DC + predictor reset must reproduce the constants
    (mirrors the multimodal_jpeg_restart_roundtrip recipe)."""
    from financial_data_stream_processing_engine_spark.plans.media_fixtures import (
        jpeg_restart,
    )
    import hashlib

    out = _decode_images(spark, [jpeg_restart(did) for did in [3, 41, 999]])
    for i, did in enumerate([3, 41, 999]):
        d = hashlib.md5(str(did).encode()).digest()
        r = out[i]
        assert (r["width"], r["height"], r["n_channels"]) == (16, 16, 1)
        assert r["mean_luma"] == pytest.approx(sum(d[:4]) / 4.0 / 255.0, abs=0)


# ---------------------------------------------------------------------------
# 16-bit PNG
# ---------------------------------------------------------------------------


def make_png16(samples: np.ndarray, ctype: int, interlace: int = 0) -> bytes:
    """samples: (h, w, nch) uint16 big-endian-encoded; rotating filters
    (row % 5 non-interlaced, (pass+row) % 5 interlaced) at bpp = 2·nch."""
    h, w, nch = samples.shape
    bpp = nch * 2
    be = np.zeros((h, w, nch, 2), np.uint8)
    be[..., 0] = samples >> 8
    be[..., 1] = samples & 0xFF
    ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, interlace)
    scan = b""
    if interlace == 0:
        rows = be.reshape(h, w * bpp)
        prev = np.zeros(w * bpp, np.int32)
        for y in range(h):
            scan += _filter_row(y % 5, rows[y], prev, bpp)
            prev = rows[y].astype(np.int32)
    else:
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            sub = be[y0::dy, x0::dx]
            hs, ws = sub.shape[0], sub.shape[1]
            if hs == 0 or ws == 0:
                continue
            rows = sub.reshape(hs, ws * bpp)
            prev = np.zeros(ws * bpp, np.int32)
            for y in range(hs):
                scan += _filter_row((pi + y) % 5, rows[y], prev, bpp)
                prev = rows[y].astype(np.int32)
    return (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan)) + _chunk(b"IEND", b"")
    )


def test_png_16bit_pixel_values(spark):
    decode = multimodal.decode_png
    g = rng.integers(0, 65536, (6, 5, 1), dtype=np.uint16)
    px, nch = decode(make_png16(g, 0))
    assert nch == 1 and px.shape == (6, 5, 1)
    assert np.array_equal(px, g.astype(np.float64) / 256.0)

    c = rng.integers(0, 65536, (4, 7, 3), dtype=np.uint16)
    px, nch = decode(make_png16(c, 2))
    assert nch == 3
    assert np.array_equal(px, c.astype(np.float64) / 256.0)


def test_png_16bit_adam7_positions(spark):
    decode = multimodal.decode_png
    a = rng.integers(0, 65536, (9, 10, 4), dtype=np.uint16)
    px, nch = decode(make_png16(a, 6, interlace=1))
    assert nch == 4 and px.shape == (9, 10, 4)
    assert np.array_equal(px, a.astype(np.float64) / 256.0)


def test_png_16bit_malformed_variants(spark):
    decode = multimodal.decode_png
    g = rng.integers(0, 65536, (4, 4, 1), dtype=np.uint16)
    good = make_png16(g, 0)
    # depth-16 palette is illegal per the spec → None
    bad_pal = bytearray(good)
    ihdr_at = good.index(b"IHDR") + 4
    bad_pal[ihdr_at + 9] = 3  # ctype byte
    assert decode(bytes(bad_pal)) is None
    # truncated sample stream → None
    pos2, chunks = 8, {}
    while pos2 + 8 <= len(good):
        ln, typ = struct.unpack(">I4s", good[pos2 : pos2 + 8])
        chunks[typ] = good[pos2 + 8 : pos2 + 8 + ln]
        pos2 += 8 + ln + 4
    scan = zlib.decompress(chunks[b"IDAT"])
    cut = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", chunks[b"IHDR"])
        + _chunk(b"IDAT", zlib.compress(scan[:-5])) + _chunk(b"IEND", b"")
    )
    assert decode(cut) is None


# ---------------------------------------------------------------------------
# sub-byte (1/2/4-bit) PNG
# ---------------------------------------------------------------------------


def make_png_subbyte(
    samples: np.ndarray,
    depth: int,
    ctype: int,
    palette: np.ndarray | None = None,
    interlace: int = 0,
) -> bytes:
    """samples: (h, w) ints < 2^depth; MSB-first bit packing with
    per-scanline padding; rotating filters at fbpp=1."""
    h, w = samples.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)

    def pack_row(row):
        bits = []
        for v in row:
            for i in range(depth - 1, -1, -1):
                bits.append((int(v) >> i) & 1)
        while len(bits) % 8:
            bits.append(0)
        return np.packbits(np.array(bits, np.uint8)).tobytes()

    def encode_image(sub, f0):
        rows = [np.frombuffer(pack_row(r), np.uint8) for r in sub]
        scan = b""
        prev = np.zeros(len(rows[0]), np.int32)
        for y, rb in enumerate(rows):
            scan += _filter_row((f0 + y) % 5, rb, prev, 1)
            prev = rb.astype(np.int32)
        return scan

    if interlace == 0:
        scan = encode_image(samples, 0)
    else:
        scan = b""
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            scan += encode_image(sub, pi)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    return out + _chunk(b"IDAT", zlib.compress(scan)) + _chunk(b"IEND", b"")


def test_png_subbyte_gray_depths(spark):
    decode = multimodal.decode_png
    for depth in (1, 2, 4):
        g = rng.integers(0, 1 << depth, (7, 11), dtype=np.uint8)
        exp = g.astype(np.float64) * (255.0 / ((1 << depth) - 1))
        for interlace in (0, 1):
            px, nch = decode(make_png_subbyte(g, depth, 0, interlace=interlace))
            assert nch == 1 and px.shape == (7, 11, 1), (depth, interlace)
            assert np.array_equal(px[:, :, 0], exp), (depth, interlace)


def test_png_subbyte_palette(spark):
    decode = multimodal.decode_png
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx4 = rng.integers(0, 16, (6, 9), dtype=np.uint8)
    px, nch = decode(make_png_subbyte(idx4, 4, 3, palette=pal))
    assert np.array_equal(px, pal[idx4].astype(np.float64))
    idx1 = rng.integers(0, 2, (5, 10), dtype=np.uint8)
    px, nch = decode(make_png_subbyte(idx1, 1, 3, palette=pal, interlace=1))
    assert np.array_equal(px, pal[idx1].astype(np.float64))
    # out-of-range palette index still rejects at sub-byte depth
    pal2 = pal[:3]
    assert decode(make_png_subbyte(idx4, 4, 3, palette=pal2)) is None


def test_png_subbyte_color_types_reject(spark):
    decode = multimodal.decode_png
    g = rng.integers(0, 4, (4, 4), dtype=np.uint8)
    # sub-byte RGB / gray+alpha / RGBA are illegal per PNG 11.2.2
    for ctype in (2, 4, 6):
        payload = make_png_subbyte(g, 2, ctype)
        assert decode(payload) is None, ctype


# ---------------------------------------------------------------------------
# GIF (LZW, palettes, interlace)
# ---------------------------------------------------------------------------


def _gif_lzw_encode(indices, mcs: int) -> bytes:
    """Greedy longest-match LZW, LSB-first packing (mirrors the entry
    generator but parameterized for arbitrary palettes/sizes)."""
    clear, eoi, width = 1 << mcs, (1 << mcs) + 1, mcs + 1
    table = {(i,): i for i in range(1 << mcs)}
    next_code = eoi + 1
    bits: list[int] = []

    def emit(code, wd):
        for i in range(wd):
            bits.append((code >> i) & 1)

    emit(clear, width)
    buf = ()
    for px in indices:
        cand = buf + (int(px),)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        buf = (int(px),)
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    while len(bits) % 8:
        bits.append(0)
    out = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for j in range(8):
            v |= bits[i + j] << j
        out.append(v)
    return bytes(out)


def make_gif(
    idx: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    version: bytes = b"89a",
    extension: bool = False,
    local_palette: np.ndarray | None = None,
) -> bytes:
    h, w = idx.shape
    n = len(palette)
    size_bits = (n - 1).bit_length() - 1
    assert n == 2 << size_bits
    mcs = max(2, (n - 1).bit_length())
    out = b"GIF" + version
    out += struct.pack("<HHBBB", w, h, 0x80 | size_bits, 0, 0)
    out += palette.astype(np.uint8).tobytes()
    if extension:
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    iflags = 0x40 if interlace else 0
    if local_palette is not None:
        lbits = (len(local_palette) - 1).bit_length() - 1
        iflags |= 0x80 | lbits
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    if local_palette is not None:
        out += local_palette.astype(np.uint8).tobytes()
        mcs = max(2, (len(local_palette) - 1).bit_length())
    out += bytes([mcs])
    if interlace:
        rows = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            rows.extend(range(start, h, step))
        seq = idx[rows].reshape(-1)
    else:
        seq = idx.reshape(-1)
    data = _gif_lzw_encode(seq, mcs)
    for i in range(0, len(data), 255):
        ch = data[i : i + 255]
        out += bytes([len(ch)]) + ch
    return out + b"\x00\x3b"


def test_gif_lzw_palettes_and_interlace(spark):
    decode = multimodal.decode_gif
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for hh, ww, interlace, ext, ver in [
        (4, 4, False, False, b"89a"), (7, 9, False, True, b"87a"),
        (11, 6, True, False, b"89a"), (1, 1, False, False, b"89a"),
        (16, 16, True, True, b"89a"),
    ]:
        idx = rng.integers(0, 16, (hh, ww), dtype=np.uint8)
        got = decode(make_gif(idx, pal, interlace=interlace, extension=ext, version=ver))
        assert got is not None, (hh, ww, interlace)
        px, nch = got
        assert nch == 3
        assert np.array_equal(px, pal[idx].astype(np.float64)), (hh, ww, interlace)


def test_gif_compression_width_growth_and_256_colors(spark):
    decode = multimodal.decode_gif
    # low-entropy image → real compression, table growth over several
    # width bumps, KwKwK cases
    big = rng.integers(0, 4, (64, 80), dtype=np.uint8)
    pal4 = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    px, _ = decode(make_gif(big, pal4))
    assert np.array_equal(px, pal4[big].astype(np.float64))
    pal256 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx256 = rng.integers(0, 256, (20, 30), dtype=np.uint8)
    px, _ = decode(make_gif(idx256, pal256))
    assert np.array_equal(px, pal256[idx256].astype(np.float64))


def test_gif_local_palette_overrides_global(spark):
    decode = multimodal.decode_gif
    gpal = np.zeros((4, 3), np.uint8)
    lpal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (5, 5), dtype=np.uint8)
    px, _ = decode(make_gif(idx, gpal, local_palette=lpal))
    assert np.array_equal(px, lpal[idx].astype(np.float64))


def test_gif_malformed_variants_yield_null(spark):
    decode = multimodal.decode_gif
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 6), dtype=np.uint8)
    good = make_gif(idx, pal)
    assert decode(good) is not None
    assert decode(b"GIF90a" + good[6:]) is None          # bad version
    assert decode(good[: len(good) // 2]) is None          # truncated LZW
    assert decode(good[:13]) is None                       # header only
    # out-of-range palette index: indices >= palette size
    small_pal = pal[:16]
    bad_idx = np.full((3, 3), 15, np.uint8)
    ok = decode(make_gif(bad_idx, small_pal))
    assert ok is not None  # 15 < 16: fine
    # through the spark path: GIF + PNG + JPEG dispatch coexist
    out = _decode_images(spark, [good, b"\x89PNG\r\n\x1a\nxx", b""])
    assert out[0]["n_channels"] == 3
    assert out[1]["width"] is None and out[2]["width"] is None


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------


def make_bmp(
    pixels: np.ndarray,
    bpp: int = 24,
    top_down: bool = False,
    palette: np.ndarray | None = None,
) -> bytes:
    """pixels: (h, w, 3) RGB uint8 for 24/32-bit, or (h, w) indices
    for 8-bit (palette required, RGB rows)."""
    if bpp == 8:
        h, w = pixels.shape
    else:
        h, w = pixels.shape[:2]
    stride = ((w * bpp // 8) + 3) & ~3
    rows = b""
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        row = b""
        for x in range(w):
            if bpp == 8:
                row += bytes([int(pixels[y, x])])
            elif bpp == 24:
                r, g, b = pixels[y, x]
                row += bytes([b, g, r])
            else:  # 32: BGRX
                r, g, b = pixels[y, x]
                row += bytes([b, g, r, 0xAA])
        rows += row + b"\x00" * (stride - len(row))
    pal_bytes = b""
    n_colors = 0
    if palette is not None:
        n_colors = len(palette)
        for r, g, b in palette:
            pal_bytes += bytes([b, g, r, 0])  # BGRA quads
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp, 0,
        len(rows), 2835, 2835, n_colors, 0,
    )
    off = 14 + 40 + len(pal_bytes)
    return (
        b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
        + dib + pal_bytes + rows
    )


def test_bmp_pixel_values_and_row_order(spark):
    decode = multimodal.decode_bmp
    # asymmetric gradient: a missing bottom-up flip scrambles values
    rgb = (np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3) * 3 + 1) % 256
    for top_down in (False, True):
        px, nch = decode(make_bmp(rgb, 24, top_down=top_down))
        assert nch == 3 and px.shape == (5, 7, 3), top_down
        assert np.array_equal(px.astype(np.uint8), rgb), top_down
    # 32-bit BGRX: the filler byte must be dropped
    px, nch = decode(make_bmp(rgb, 32))
    assert nch == 3 and np.array_equal(px.astype(np.uint8), rgb)
    # odd width exercises the 4-byte row padding path
    odd = rng.integers(0, 256, (3, 3, 3), dtype=np.uint8)
    px, _ = decode(make_bmp(odd, 24))
    assert np.array_equal(px.astype(np.uint8), odd)


def test_bmp_palette_and_malformed(spark):
    decode = multimodal.decode_bmp
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 5), dtype=np.uint8)
    px, nch = decode(make_bmp(idx, 8, palette=pal))
    assert nch == 1 and np.array_equal(px.astype(np.uint8), pal[idx])
    good = make_bmp(idx, 8, palette=pal)
    assert decode(good[: len(good) - 8]) is None   # truncated pixel rows
    assert decode(b"BA" + good[2:]) is None        # bad magic
    # RLE compression flag rejects
    bad = bytearray(make_bmp(rng.integers(0, 256, (2, 2, 3), dtype=np.uint8)))
    bad[30] = 1  # BI_RLE8
    assert decode(bytes(bad)) is None
    # spark-path dispatch sanity
    out = _decode_images(spark, [make_bmp(rng.integers(0, 256, (2, 2, 3), dtype=np.uint8))])
    assert out[0]["n_channels"] == 3 and out[0]["width"] == 2


# ---------------------------------------------------------------------------
# round 8: µ-law + IMA-ADPCM WAV, MJPEG/AVI frame walk, GIF canvas guard
# ---------------------------------------------------------------------------


def _riff_wav(fmt_payload: bytes, data: bytes, extra_chunks: bytes = b"") -> bytes:
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_payload)) + fmt_payload
        + extra_chunks
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_ulaw_wav(codes: bytes, rate: int = 8000) -> bytes:
    fmt = struct.pack("<HHIIHHH", 7, 1, rate, rate, 1, 8, 0)
    fact = b"fact" + struct.pack("<II", 4, len(codes))
    return _riff_wav(fmt, codes, extra_chunks=fact)


def _ulaw_expand(byte: int) -> int:
    u = ~byte & 0xFF
    mag = (((u & 0x0F) * 8 + 0x84) << ((u >> 4) & 7)) - 0x84
    return -mag if u & 0x80 else mag


def _decode_audio(spark, payloads):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("audio").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    rows = multimodal.decode_audio_features(media, fake=False).collect()
    return {r["media_id"]: r for r in rows}


def test_wav_ulaw_reference_codewords(spark):
    # canonical G.711 extremes: 0x00 → −32124, 0x80 → +32124,
    # 0xFF / 0x7F → ±0 (the two zero codes)
    assert _ulaw_expand(0x00) == -32124
    assert _ulaw_expand(0x80) == 32124
    assert _ulaw_expand(0xFF) == 0
    assert _ulaw_expand(0x7F) == 0
    codes = bytes([0x00, 0x80, 0xFF, 0x7F] + list(rng.integers(0, 256, 60)))
    out = _decode_audio(spark, [make_ulaw_wav(codes, rate=16000)])
    r = out[0]
    assert (r["sample_rate"], r["n_samples"]) == (16000, 64)
    vals = np.array([_ulaw_expand(c) for c in codes], np.float64) / 32768.0
    assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(vals * vals))), abs=1e-15)
    # odd-length data chunk exercises the RIFF pad byte in the walk
    out = _decode_audio(spark, [make_ulaw_wav(codes[:7])])
    assert out[0]["n_samples"] == 7


def _ima_reference_decode(block: bytes) -> list[int]:
    """independent straightforward IMA ADPCM loop (step tables from the
    IMA spec) for cross-checking the operator's vectorized-ish path."""
    steps = multimodal._IMA_STEPS
    adj = multimodal._IMA_INDEX_ADJ
    pred = int.from_bytes(block[:2], "little", signed=True)
    index = min(max(block[2], 0), 88)
    out = [pred]
    for byte in block[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            step = steps[index]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + adj[nib & 7]))
            out.append(pred)
    return out


def test_wav_ima_adpcm_blocks(spark):
    align = 12  # 4-byte header + 8 nibble bytes → 17 samples per block
    blocks = []
    for seed_pred, seed_idx in [(0, 0), (1000, 20), (-2000, 60), (32000, 88)]:
        nibs = bytes(rng.integers(0, 256, align - 4, dtype=np.uint8))
        blocks.append(struct.pack("<hBB", seed_pred, seed_idx, 0) + nibs)
    data = b"".join(blocks)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4055, align, 4, 2, 17)
    wavb = _riff_wav(fmt, data)
    out = _decode_audio(spark, [wavb])
    r = out[0]
    expect = [v for b in blocks for v in _ima_reference_decode(b)]
    assert r["n_samples"] == len(expect) == 4 * 17
    vals = np.array(expect, np.float64) / 32768.0
    assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(vals * vals))), abs=1e-15)
    # unsupported codec tag still yields NULLs, not an error
    bad = _riff_wav(struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 8), b"\x00" * 8)
    assert _decode_audio(spark, [bad])[0]["rms"] is None


def _avi_chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def make_avi(frames: list[bytes], with_hdrl: bool = True) -> bytes:
    hdrl = b""
    if with_hdrl:
        avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0x10, len(frames), 0, 1, 0, 8, 8) + b"\x00" * 16
        strh = b"vidsMJPG" + b"\x00" * 48
        strf = struct.pack("<IiiHH4sIiiII", 40, 8, 8, 1, 24, b"MJPG", 0, 0, 0, 0, 0)
        hdrl = _avi_chunk(b"LIST", b"hdrl" + _avi_chunk(b"avih", avih)
                          + _avi_chunk(b"LIST", b"strl" + _avi_chunk(b"strh", strh)
                                       + _avi_chunk(b"strf", strf)))
    movi = _avi_chunk(b"LIST", b"movi" + b"".join(_avi_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_video(spark, payloads, max_frames=16):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("video").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    rows = multimodal.decode_video_frames(media, max_frames=max_frames).collect()
    out: dict[int, dict[int, object]] = {}
    for r in rows:
        out.setdefault(r["media_id"], {})[r["frame_idx"]] = r
    return out


def test_avi_mjpeg_frames_decode(spark):
    cases = [(64, {1: 5}, 1), (-100, {3: -2, 17: 4}, 1), (7, {}, 2)]
    frames = [_make_baseline_jpeg(dc, ac, q) for dc, ac, q in cases]
    # at least one odd-length frame so the word-alignment pad is real
    assert any(len(f) & 1 for f in frames) or frames.append(
        _make_baseline_jpeg(3, {1: 1}, 1) + b""
    ) is None
    out = _decode_video(spark, [make_avi(frames)])
    got = out[0]
    assert sorted(got) == list(range(len(frames)))
    for i, (dc, ac, q) in enumerate(cases):
        r = got[i]
        assert (r["width"], r["height"], r["n_channels"]) == (8, 8, 1)
        exp = _reference_idct_block(dc, ac, q).mean() / 255.0
        assert r["mean_luma"] == pytest.approx(exp, abs=1e-9), i


def test_avi_error_isolation_and_caps(spark):
    good = _make_baseline_jpeg(10, {1: 3}, 1)
    corrupt = good[:20]  # valid SOI, truncated mid-segments
    payloads = [
        make_avi([good, corrupt, good]),        # corrupt middle frame
        make_avi([good], with_hdrl=False),      # no hdrl: movi walk alone
        make_avi([good])[:30],                  # truncated container
        b"RIFF\x08\x00\x00\x00WAVE",            # RIFF but not AVI
        b"not riff at all",
    ]
    out = _decode_video(spark, payloads)
    assert sorted(out[0]) == [0, 1, 2]
    assert out[0][1]["width"] is None and out[0][1]["mean_luma"] is None
    assert out[0][0]["width"] == 8 and out[0][2]["width"] == 8
    assert sorted(out.get(1, {})) == [0]
    assert 2 not in out and 3 not in out and 4 not in out
    # max_frames caps the emitted rows
    capped = _decode_video(spark, [make_avi([good] * 5)], max_frames=2)
    assert sorted(capped[0]) == [0, 1]


def test_gif_partial_canvas_first_frame_rejected(spark):
    decode = multimodal.decode_gif
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 6), dtype=np.uint8)
    good = make_gif(idx, pal)
    assert decode(good) is not None
    # canvas larger than the (6,6) frame → dims would disagree with
    # standard decoders' canvas reporting → drop, don't guess
    bigger = good[:6] + struct.pack("<HH", 8, 8) + good[10:]
    assert decode(bigger) is None
    # frame offset within an equal-sized canvas → same contract
    desc = 13 + 3 * 16  # header + global palette → image descriptor
    assert good[desc] == 0x2C
    offset = good[: desc + 1] + struct.pack("<HH", 1, 0) + good[desc + 5 :]
    assert decode(offset) is None


def _make_pcm8_wav(samples: bytes, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(rate)
        wf.writeframes(samples)
    return buf.getvalue()


def _samples_df(spark, payloads, **kw):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("audio").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    return multimodal.decode_audio_samples(media, **kw)


def test_audio_samples_decode_cap_and_error_isolation(spark):
    raw = bytes(range(40))
    rows = {
        r["media_id"]: r
        for r in _samples_df(
            spark,
            [_make_pcm8_wav(raw), b"not a riff file", _make_pcm8_wav(raw[:5])],
            max_samples=16,
        ).collect()
    }
    good = rows[0]
    assert good["sample_rate"] == 8000 and len(good["samples"]) == 16
    assert good["samples"] == [(b - 128.0) / 128.0 for b in raw[:16]]
    assert rows[1]["samples"] is None and rows[1]["sample_rate"] is None
    assert len(rows[2]["samples"]) == 5  # shorter than the cap: kept as-is


def test_audio_power_spectrum_matches_numpy_dft(spark):
    rng_l = np.random.default_rng(11)
    payloads = [bytes(rng_l.integers(0, 256, 16, dtype=np.uint8)) for _ in range(4)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=16)
    out = multimodal.audio_power_spectrum(sdf, n_fft=16, bins=(1, 2, 3, 5))
    got = {(r["media_id"], r["k"]): r for r in out.collect()}
    assert len(got) == 4 * 4
    for mid, p in enumerate(payloads):
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        for k in (1, 2, 3, 5):
            n = np.arange(16)
            re = float(np.sum(x * np.cos(2 * np.pi * k * n / 16)))
            im = float(np.sum(x * np.sin(2 * np.pi * k * n / 16)))
            r = got[(mid, k)]
            # 1e-9-grid quantization puts each 16-term sum within 1.6e-8
            assert r["re_sum"] == pytest.approx(re, abs=2e-8)
            assert r["im_sum"] == pytest.approx(im, abs=2e-8)
            assert r["power"] == pytest.approx(re * re + im * im, abs=1e-6)


def test_audio_power_spectrum_excludes_short_and_null(spark):
    sdf = _samples_df(
        spark,
        [_make_pcm8_wav(bytes(range(16))), _make_pcm8_wav(bytes(range(8))), b"junk"],
        max_samples=16,
    )
    out = multimodal.audio_power_spectrum(sdf, n_fft=16, bins=(1,))
    ids = {r["media_id"] for r in out.collect()}
    assert ids == {0}  # 8-sample window and undecodable payload excluded


def test_audio_stft_matches_numpy_per_frame(spark):
    """Every (frame, bin) cell of the overlapping STFT must equal the
    per-frame numpy DFT of samples [f·hop, f·hop+n_fft)."""
    rng_l = np.random.default_rng(23)
    payloads = [bytes(rng_l.integers(0, 256, 40, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=40)
    out = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=(1, 2, 3))
    got = {(r["media_id"], r["frame_idx"], r["k"]): r for r in out.collect()}
    n_frames = (40 - 16) // 8 + 1  # 4 full frames; no partial frame 4
    assert len(got) == 3 * n_frames * 3
    n = np.arange(16)
    for mid, p in enumerate(payloads):
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        for f in range(n_frames):
            seg = x[f * 8 : f * 8 + 16]
            for k in (1, 2, 3):
                re = float(np.sum(seg * np.cos(2 * np.pi * k * n / 16)))
                im = float(np.sum(seg * np.sin(2 * np.pi * k * n / 16)))
                r = got[(mid, f, k)]
                assert r["re_sum"] == pytest.approx(re, abs=2e-8)
                assert r["im_sum"] == pytest.approx(im, abs=2e-8)
                assert r["power"] == pytest.approx(re * re + im * im, abs=1e-6)


def test_audio_stft_frame_lattice_edges(spark):
    """Frame accounting: exactly n_fft samples → one frame; one sample
    short of the next hop boundary → still the same frame count (no
    partial frames); shorter-than-n_fft media excluded; non-overlapping
    hop == n_fft tiles the signal."""
    payloads = [
        _make_pcm8_wav(bytes(range(16))),   # 1 frame at hop 8
        _make_pcm8_wav(bytes(range(23))),   # still 1 (next frame needs 24)
        _make_pcm8_wav(bytes(range(24))),   # 2 frames
        _make_pcm8_wav(bytes(range(15))),   # excluded
    ]
    sdf = _samples_df(spark, payloads, max_samples=32)
    out = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=(1,))
    frames = {}
    for r in out.collect():
        frames.setdefault(r["media_id"], set()).add(r["frame_idx"])
    assert frames == {0: {0}, 1: {0}, 2: {0, 1}}
    # hop == n_fft: disjoint tiling — 24 samples hold one complete
    # 16-tile, never a padded partial
    out16 = multimodal.audio_stft(sdf, n_fft=16, hop=16, bins=(1,))
    tiled = {}
    for r in out16.collect():
        tiled.setdefault(r["media_id"], set()).add(r["frame_idx"])
    assert tiled == {0: {0}, 1: {0}, 2: {0}}  # 24 samples: one 16-tile


def test_audio_stft_frame0_equals_whole_signal_spectrum(spark):
    """Cross-operator consistency law: for media of exactly n_fft
    samples the STFT has one frame whose cells must equal the
    whole-signal spectrum's BITWISE (same twiddles, same quantized
    summation — not just approximately)."""
    rng_l = np.random.default_rng(31)
    payloads = [bytes(rng_l.integers(0, 256, 16, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=16)
    stft = {
        (r["media_id"], r["k"]): (r["re_sum"], r["im_sum"], r["power"])
        for r in multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=(1, 2, 3)).collect()
    }
    spec = {
        (r["media_id"], r["k"]): (r["re_sum"], r["im_sum"], r["power"])
        for r in multimodal.audio_power_spectrum(sdf, n_fft=16, bins=(1, 2, 3)).collect()
    }
    assert stft == spec  # exact float equality, frame_idx 0 only


def test_dft_twiddles_reject_duplicate_bins(spark):
    """A repeated bin would silently double that bin's sums through
    the twiddle join — both spectrum operators must refuse it."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        multimodal._dft_twiddles(16, (1, 2, 1))


def test_audio_stft_rejects_nonpositive_geometry(spark):
    """hop=0 would NULL the frame bounds under Spark's non-ANSI
    division and return an EMPTY frame silently — must raise."""
    import pytest as _pytest

    sdf = _samples_df(spark, [_make_pcm8_wav(bytes(range(16)))], max_samples=16)
    for n_fft, hop in ((16, 0), (0, 8), (16, -4)):
        with _pytest.raises(ValueError, match="positive"):
            multimodal.audio_stft(sdf, n_fft=n_fft, hop=hop, bins=(1,))


def test_audio_stft_random_geometries_match_numpy(spark):
    """Randomized sweep over (n_fft, hop, signal length) — frame
    lattice and per-frame values must match the numpy reference for
    overlapping, tiling and sparse (hop > n_fft) geometries alike."""
    import random as _random

    rng = _random.Random(41)
    rng_l = np.random.default_rng(43)
    for _ in range(6):
        n_fft = rng.choice((4, 8, 12, 16))
        hop = rng.choice((2, 3, 4, 8, 16, 20))
        n = rng.randint(n_fft, 60)
        bins = tuple(sorted({1, max(1, n_fft // 2 - 1)}))
        p = bytes(rng_l.integers(0, 256, n, dtype=np.uint8))
        sdf = _samples_df(spark, [_make_pcm8_wav(p)], max_samples=n)
        got = {
            (r["frame_idx"], r["k"]): (r["re_sum"], r["im_sum"])
            for r in multimodal.audio_stft(sdf, n_fft=n_fft, hop=hop, bins=bins).collect()
        }
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        n_frames = (n - n_fft) // hop + 1
        idx = np.arange(n_fft)
        want_keys = {(f, k) for f in range(n_frames) for k in bins}
        assert set(got) == want_keys, (n_fft, hop, n)
        for f in range(n_frames):
            seg = x[f * hop : f * hop + n_fft]
            for k in bins:
                re = float(np.sum(seg * np.cos(2 * np.pi * k * idx / n_fft)))
                im = float(np.sum(seg * np.sin(2 * np.pi * k * idx / n_fft)))
                assert got[(f, k)][0] == pytest.approx(re, abs=2e-8), (n_fft, hop, n, f, k)
                assert got[(f, k)][1] == pytest.approx(im, abs=2e-8), (n_fft, hop, n, f, k)


def test_mel_band_weights_geometry(spark):
    """Filterbank shape laws: weights in (0, 1], every band captures
    ≥1 bin, each band's weights rise to the apex then fall (triangle),
    and an over-split filterbank (some band catching no bin) fails
    LOUDLY instead of silently dropping output rows."""
    import pytest as _pytest

    w = multimodal.mel_band_weights(n_fft=16, sr=8000, bins=tuple(range(1, 8)), n_bands=3)
    assert all(0.0 < x <= 1.0 for _, _, x in w)
    bands = {}
    for k, b, x in w:
        bands.setdefault(b, []).append((k, x))
    assert set(bands) == {0, 1, 2}
    for b, rows in bands.items():
        xs = [x for _, x in sorted(rows)]
        apex = xs.index(max(xs))
        assert xs[: apex + 1] == sorted(xs[: apex + 1]), b
        assert xs[apex:] == sorted(xs[apex:], reverse=True), b
    # mel apexes skew low: band 0 must sit on lower bins than band 2
    assert min(k for k, _ in bands[0]) < min(k for k, _ in bands[2])
    with _pytest.raises(ValueError, match="capture"):
        multimodal.mel_band_weights(n_fft=16, sr=8000, bins=(1, 2), n_bands=8)
    with _pytest.raises(ValueError, match="band spec"):
        multimodal.mel_band_weights(n_fft=16, sr=8000, n_bands=0)


def test_audio_melbands_matches_numpy(spark):
    """Band energies must equal the numpy weighted sum of per-frame
    DFT powers under the same filterbank, per (media, frame, band)."""
    rng_l = np.random.default_rng(47)
    bins = tuple(range(1, 8))
    weights = multimodal.mel_band_weights(n_fft=16, sr=8000, bins=bins, n_bands=3)
    payloads = [bytes(rng_l.integers(0, 256, 64, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=bins)
    out = multimodal.audio_melbands(stft, weights)
    got = {(r["media_id"], r["frame_idx"], r["band"]): r for r in out.collect()}
    n_frames = (64 - 16) // 8 + 1
    assert len(got) == 3 * n_frames * 3
    idx = np.arange(16)
    by_band = {}
    for k, b, x in weights:
        by_band.setdefault(b, []).append((k, x))
    for mid, p in enumerate(payloads):
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        for f in range(n_frames):
            seg = x[f * 8 : f * 8 + 16]
            pw = {
                k: float(np.sum(seg * np.cos(2 * np.pi * k * idx / 16))) ** 2
                + float(np.sum(seg * np.sin(2 * np.pi * k * idx / 16))) ** 2
                for k in bins
            }
            for b, rows in by_band.items():
                want = sum(w * pw[k] for k, w in rows)
                r = got[(mid, f, b)]
                assert r["energy"] == pytest.approx(want, abs=1e-5), (mid, f, b)
                assert r["n_bins"] == len(rows), (mid, f, b)


def test_audio_melbands_rejects_duplicate_weight_rows(spark):
    """A duplicated (k, band) weight row would silently double that
    bin's contribution through the join — must raise."""
    import pytest as _pytest

    sdf = _samples_df(spark, [_make_pcm8_wav(bytes(range(16)))], max_samples=16)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=(1,))
    with _pytest.raises(ValueError, match="duplicate"):
        multimodal.audio_melbands(stft, [(1, 0, 0.5), (1, 0, 0.25)])


def test_dct2_basis_geometry():
    """DCT-II sanity: c=0 is the all-ones row; rows are orthogonal
    under the DCT-II inner product; over-asking coefficients or
    degenerate shapes raise (aliasing noise must fail loudly)."""
    import pytest as _pytest

    basis = multimodal.dct2_basis(n_bands=5, n_coeffs=5)
    assert len(basis) == 25
    w = {}
    for m, c, x in basis:
        w[(c, m)] = x
    assert all(w[(0, m)] == 1.0 for m in range(5))
    for c1 in range(5):
        for c2 in range(c1 + 1, 5):
            dot = sum(w[(c1, m)] * w[(c2, m)] for m in range(5))
            assert dot == pytest.approx(0.0, abs=1e-12), (c1, c2)
    with _pytest.raises(ValueError, match="n_coeffs"):
        multimodal.dct2_basis(n_bands=3, n_coeffs=4)
    with _pytest.raises(ValueError, match="n_coeffs"):
        multimodal.dct2_basis(n_bands=3, n_coeffs=0)


def test_audio_mfcc_matches_numpy(spark):
    """MFCCs must equal the numpy DCT-II of the grid-quantized log of
    the per-frame mel energies, per (media, frame, coeff)."""
    rng_l = np.random.default_rng(48)
    bins = tuple(range(1, 8))
    weights = multimodal.mel_band_weights(n_fft=16, sr=8000, bins=bins, n_bands=3)
    basis = multimodal.dct2_basis(n_bands=3, n_coeffs=3)
    payloads = [bytes(rng_l.integers(0, 256, 64, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=bins)
    mel = multimodal.audio_melbands(stft, weights)
    energies = {
        (r["media_id"], r["frame_idx"], r["band"]): r["energy"]
        for r in mel.collect()
    }
    out = multimodal.audio_mfcc(mel, basis)
    got = {(r["media_id"], r["frame_idx"], r["c"]): r for r in out.collect()}
    n_frames = (64 - 16) // 8 + 1
    assert len(got) == 3 * n_frames * 3
    import math

    bw = {}
    for m, c, x in basis:
        bw.setdefault(c, {})[m] = x
    for mid in range(3):
        for f in range(n_frames):
            logq = {
                b: math.floor(math.log(energies[(mid, f, b)] + 1e-9) * 1e9) * 1e-9
                for b in range(3)
            }
            for c, row in bw.items():
                want = sum(row[b] * logq[b] for b in range(3))
                r = got[(mid, f, c)]
                assert r["mfcc"] == pytest.approx(want, abs=1e-6), (mid, f, c)
                assert r["n_bands"] == 3


def test_audio_spectral_shape_matches_numpy(spark):
    """Centroid, rolloff bin and log-flatness must equal the numpy
    statistics over the same per-frame DFT powers: power-weighted mean
    frequency, smallest k with 100·cum ≥ 85·tot over the quantized
    powers, and quantized-log geometric/arithmetic ratio."""
    import math

    rng_l = np.random.default_rng(49)
    bins = tuple(range(1, 8))
    payloads = [bytes(rng_l.integers(0, 256, 64, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=bins)
    out = multimodal.audio_spectral_shape(stft, sr=8000, n_fft=16, rolloff_pct=85)
    got = {(r["media_id"], r["frame_idx"]): r for r in out.collect()}
    n_frames = (64 - 16) // 8 + 1
    assert len(got) == 3 * n_frames
    idx = np.arange(16)
    for mid, p in enumerate(payloads):
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        for f in range(n_frames):
            seg = x[f * 8 : f * 8 + 16]
            pw = {
                k: float(np.sum(seg * np.cos(2 * np.pi * k * idx / 16))) ** 2
                + float(np.sum(seg * np.sin(2 * np.pi * k * idx / 16))) ** 2
                for k in bins
            }
            p_int = {k: math.floor(v * 1e9) for k, v in pw.items()}
            tot = sum(p_int.values())
            cum = 0
            roll = None
            for k in bins:
                cum += p_int[k]
                if roll is None and 100 * cum >= 85 * tot:
                    roll = k
            cent = sum(v * k * 500.0 for k, v in pw.items()) / sum(pw.values())
            lq = [math.floor(math.log(v + 1e-9) * 1e9) * 1e-9 for v in pw.values()]
            flat = sum(lq) / len(lq) - math.floor(
                math.log(sum(p_int.values()) * 1e-9 / len(pw) + 1e-9) * 1e9
            ) * 1e-9
            r = got[(mid, f)]
            assert r["n_bins"] == len(bins)
            assert r["rolloff_k"] == roll, (mid, f)
            assert r["centroid"] == pytest.approx(cent, rel=1e-6), (mid, f)
            assert r["flatness_log"] == pytest.approx(flat, abs=1e-6), (mid, f)
            assert r["flatness_log"] <= 1e-9, (mid, f)


def test_audio_spectral_shape_zero_frame_is_null_centroid(spark):
    """An all-zero frame has no power mass: centroid must be NULL (not
    NaN/Inf), rolloff degenerates to the first bin (0 ≥ 0 exactly) and
    flatness is 0 on the grid (every log equals the floor's)."""
    wav = _make_pcm8_wav(bytes([128] * 64))  # all samples exactly 0.0
    sdf = _samples_df(spark, [wav], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=(1, 2, 3))
    rows = multimodal.audio_spectral_shape(stft).collect()
    assert len(rows) == 7
    for r in rows:
        assert r["centroid"] is None
        assert r["rolloff_k"] == 1
        assert r["flatness_log"] == pytest.approx(0.0, abs=1e-12)


def test_audio_spectral_flux_matches_numpy(spark):
    """Flux must equal the numpy rectified first difference of
    per-frame DFT powers summed over bins, per (media, frame ≥ 1);
    frame 0 must be absent (no predecessor)."""
    import math

    rng_l = np.random.default_rng(50)
    bins = tuple(range(1, 8))
    payloads = [bytes(rng_l.integers(0, 256, 64, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=bins)
    out = multimodal.audio_spectral_flux(stft)
    got = {(r["media_id"], r["frame_idx"]): r for r in out.collect()}
    n_frames = (64 - 16) // 8 + 1
    assert len(got) == 3 * (n_frames - 1)
    assert all(f >= 1 for _, f in got)
    idx = np.arange(16)
    for mid, p in enumerate(payloads):
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        pw = []
        for f in range(n_frames):
            seg = x[f * 8 : f * 8 + 16]
            pw.append(
                {
                    k: float(np.sum(seg * np.cos(2 * np.pi * k * idx / 16))) ** 2
                    + float(np.sum(seg * np.sin(2 * np.pi * k * idx / 16))) ** 2
                    for k in bins
                }
            )
        for f in range(1, n_frames):
            want = (
                sum(
                    math.floor(max(0.0, pw[f][k] - pw[f - 1][k]) * 1e9)
                    for k in bins
                )
                * 1e-9
            )
            # abs=1e-5 like the melbands test: the engine quantizes
            # re/im sums to the 1e-9 grid BEFORE squaring, the numpy
            # reference does not — grid-level drift, not semantics
            # (the bitwise guarantee is the oracle's job)
            r = got[(mid, f)]
            assert r["flux"] == pytest.approx(want, abs=1e-5), (mid, f)
            assert r["flux"] >= 0.0
            assert r["n_bins"] == len(bins)


def test_audio_zcr_matches_numpy(spark):
    """ZCR must equal the numpy sign-change count of consecutive
    sample pairs per overlapping frame; all-positive audio has zero
    crossings; degenerate geometry raises."""
    import pytest as _pytest

    rng_l = np.random.default_rng(51)
    payloads = [bytes(rng_l.integers(0, 256, 64, dtype=np.uint8)) for _ in range(3)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=64)
    out = multimodal.audio_zcr(sdf, n_fft=16, hop=8)
    got = {(r["media_id"], r["frame_idx"]): r for r in out.collect()}
    n_frames = (64 - 16) // 8 + 1
    assert len(got) == 3 * n_frames
    for mid, p in enumerate(payloads):
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        neg = x < 0
        for f in range(n_frames):
            seg = neg[f * 8 : f * 8 + 16]
            want = int(np.sum(seg[1:] != seg[:-1]))
            r = got[(mid, f)]
            assert r["zc_count"] == want, (mid, f)
            assert r["n_pairs"] == 15
            assert r["zc_rate"] == pytest.approx(want / 15.0)
    # all samples >= 0 (bytes >= 128): zero crossings everywhere
    flat = _samples_df(spark, [_make_pcm8_wav(bytes([200] * 64))], max_samples=64)
    rows = multimodal.audio_zcr(flat).collect()
    assert len(rows) == 7 and all(r["zc_count"] == 0 for r in rows)
    with _pytest.raises(ValueError, match="n_fft"):
        multimodal.audio_zcr(sdf, n_fft=1, hop=8)


def test_audio_mfcc_rejects_duplicate_basis_rows(spark):
    """A duplicated (band, coeff) basis row would silently double that
    band's contribution through the join — must raise."""
    import pytest as _pytest

    sdf = _samples_df(spark, [_make_pcm8_wav(bytes(range(64)))], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=(1, 2))
    mel = multimodal.audio_melbands(
        stft, multimodal.mel_band_weights(n_fft=16, sr=8000, bins=(1, 2), n_bands=1)
    )
    with _pytest.raises(ValueError, match="duplicate"):
        multimodal.audio_mfcc(mel, [(0, 0, 1.0), (0, 0, 0.5)])


def _make_tiff(px, endian="<", packbits=False, photo=None, rows_per_strip=None):
    """Hand-built TIFF writer (both endians, strips, PackBits)."""
    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else px.shape[2]
    if px.ndim == 2:
        px = px[:, :, None]
    data = px.astype(np.uint8).tobytes()
    rps = rows_per_strip or h
    row_bytes = w * spp
    strips = [
        data[y0 * row_bytes : (y0 + min(rps, h - y0)) * row_bytes]
        for y0 in range(0, h, rps)
    ]
    if packbits:
        def pack(s: bytes) -> bytes:
            out = bytearray()
            i = 0
            while i < len(s):
                j = i
                while j + 1 < len(s) and s[j + 1] == s[j] and j - i < 127:
                    j += 1
                if j > i:
                    out += bytes([257 - (j - i + 1), s[i]])
                    i = j + 1
                else:
                    k = i
                    while (k < len(s) and k - i < 128
                           and not (k + 1 < len(s) and s[k] == s[k + 1])):
                        k += 1
                    out += bytes([k - i - 1]) + s[i:k]
                    i = k
            return bytes(out)
        strips = [pack(s) for s in strips]
    e = endian
    photo = photo if photo is not None else (1 if spp == 1 else 2)
    ntags = 9
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * ntags + 4
    extra = b""
    bits_val_off = None
    if spp == 3:
        bits_val_off = data_off
        extra += struct.pack(e + "HHH", 8, 8, 8)
    arrays_off = data_off + len(extra)
    n_strips = len(strips)
    if n_strips > 1:
        so_off = arrays_off
        sc_off = so_off + 4 * n_strips
        strip_data_off = sc_off + 4 * n_strips
    else:
        strip_data_off = arrays_off
    offs, pos = [], strip_data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    if n_strips > 1:
        extra += struct.pack(e + "I" * n_strips, *offs)
        extra += struct.pack(e + "I" * n_strips, *[len(s) for s in strips])

    def tag(t, typ, cnt, val):
        return struct.pack(e + "HHI", t, typ, cnt) + val

    def short_val(v):
        return struct.pack(e + "HH", v, 0)

    def long_val(v):
        return struct.pack(e + "I", v)

    tags = [
        tag(256, 3, 1, short_val(w)),
        tag(257, 3, 1, short_val(h)),
        tag(258, 3, spp, short_val(8) if spp == 1 else long_val(bits_val_off)),
        tag(259, 3, 1, short_val(32773 if packbits else 1)),
        tag(262, 3, 1, short_val(photo)),
        tag(273, 4, n_strips, long_val(offs[0] if n_strips == 1 else so_off)),
        tag(277, 3, 1, short_val(spp)),
        tag(278, 3, 1, short_val(rps)),
        tag(279, 4, n_strips,
            long_val(len(strips[0]) if n_strips == 1 else sc_off)),
    ]
    out = (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    out += struct.pack(e + "H", ntags) + b"".join(tags) + struct.pack(e + "I", 0)
    out += extra + b"".join(strips)
    return out


def test_tiff_variants_roundtrip(spark):
    decode = multimodal.decode_tiff
    rng_t = np.random.default_rng(5)
    gray = rng_t.integers(0, 256, (4, 4), dtype=np.uint8)
    rgb = rng_t.integers(0, 256, (5, 3, 3), dtype=np.uint8)
    runs = np.repeat(rng_t.integers(0, 256, (4, 2), dtype=np.uint8), [3, 1], axis=1)
    for name, px, kw in [
        ("gray-II", gray, {}),
        ("gray-MM", gray, {"endian": ">"}),
        ("gray-white0", gray, {"photo": 0}),
        ("rgb-II", rgb, {}),
        ("rgb-MM-strips", rgb, {"endian": ">", "rows_per_strip": 2}),
        ("gray-packbits", runs, {"packbits": True}),
        ("rgb-strips-pb", rgb, {"rows_per_strip": 2, "packbits": True}),
    ]:
        dec = decode(_make_tiff(px, **kw))
        assert dec is not None, name
        got, nch = dec
        want = px if px.ndim == 3 else px[:, :, None]
        if kw.get("photo") == 0:
            want = 255 - want
        assert got.shape == want.shape and (got == want).all(), name


def test_tiff_rejection_paths(spark):
    decode = multimodal.decode_tiff
    gray = np.arange(16, dtype=np.uint8).reshape(4, 4)
    good = _make_tiff(gray)
    assert decode(good) is not None
    assert decode(b"XX\x2a\x00") is None          # bad byte-order mark
    assert decode(b"II\x2b\x00\x08\x00\x00\x00") is None  # BigTIFF magic
    assert decode(good[:30]) is None              # truncated IFD
    assert decode(good[:-5]) is None              # truncated strip data
    # unsupported compression tag (LZW = 5)
    bad = bytearray(_make_tiff(gray))
    # compression tag value sits in tag 259's value field; patch it
    idx = bad.find(struct.pack("<HHI", 259, 3, 1))
    bad[idx + 8 : idx + 10] = struct.pack("<H", 5)
    assert decode(bytes(bad)) is None


def test_tiff_in_unified_dispatch(spark):
    """The shared image-features dispatch must route TIFF magic to the
    TIFF decoder, both endians."""
    gray = np.arange(16, dtype=np.uint8).reshape(4, 4)
    payloads = [_make_tiff(gray), _make_tiff(gray, endian=">")]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = df.select(
        "media_id", F.lit("image").alias("kind"), "payload",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    rows = {r["media_id"]: r for r in
            multimodal.decode_image_features(media, fake=False).collect()}
    for i in (0, 1):
        assert (rows[i]["width"], rows[i]["height"], rows[i]["n_channels"]) == (4, 4, 1)
        assert rows[i]["mean_luma"] == pytest.approx(gray.mean() / 255.0, abs=1e-15)


def test_tiff_planar_config_rejected(spark):
    """PlanarConfiguration 2 stores per-channel PLANES; decoding it as
    chunky silently produces scrambled pixels — must take the NULL
    path instead."""
    decode = multimodal.decode_tiff
    rgb = np.arange(45, dtype=np.uint8).reshape(5, 3, 3)
    good = _make_tiff(rgb)
    assert decode(good) is not None
    # repurpose the RowsPerStrip tag slot as PlanarConfiguration=2
    # (inserting a tag would shift every absolute offset by 12;
    # RowsPerStrip then defaults to h, so the layout stays valid)
    b = bytearray(good)
    idx = bytes(b).find(struct.pack("<HHI", 278, 3, 1))
    b[idx : idx + 2] = struct.pack("<H", 284)
    b[idx + 8 : idx + 10] = struct.pack("<H", 2)
    # (RowsPerStrip now absent → defaults to h, layout still valid)
    assert decode(bytes(b)) is None


def _lzw_encode_tiff(data: bytes) -> bytes:
    """Reference TIFF-variant LZW encoder (MSB-first, early change,
    ClearCode reset near table-full) used to exercise the decoder."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nacc = 0
    width = 9

    def put(code):
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8

    table = {bytes([i]): i for i in range(256)}
    nextcode = 258
    put(CLEAR)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w = w + c
            continue
        put(table[w])
        table[w + c] = nextcode
        nextcode += 1
        # the encoder table runs one entry ahead of the decoder's,
        # which grows at (1<<width)-1 — so the mirror point is 1<<width
        if nextcode == (1 << width) and width < 12:
            width += 1
        if nextcode >= 4093:
            put(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            nextcode, width = 258, 9
        w = c
    if w:
        put(table[w])
    put(EOI)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _make_tiff_lzw(px_bytes: bytes, w: int, h: int, predictor: int | None = None) -> bytes:
    s = _lzw_encode_tiff(px_bytes)
    e = "<"
    ntags = 9 + (1 if predictor is not None else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * ntags + 4

    def sv(v):
        return struct.pack(e + "HH", v, 0)

    def lv(v):
        return struct.pack(e + "I", v)

    def tag(t, typ, cnt, val):
        return struct.pack(e + "HHI", t, typ, cnt) + val

    tags = [
        tag(256, 3, 1, sv(w)), tag(257, 3, 1, sv(h)), tag(258, 3, 1, sv(8)),
        tag(259, 3, 1, sv(5)), tag(262, 3, 1, sv(1)),
        tag(273, 4, 1, lv(data_off)), tag(277, 3, 1, sv(1)),
        tag(278, 3, 1, sv(h)), tag(279, 4, 1, lv(len(s))),
    ]
    if predictor is not None:
        tags.append(tag(317, 3, 1, sv(predictor)))
        tags.sort(key=lambda t: struct.unpack(e + "H", t[:2])[0])
    return (
        (b"II") + struct.pack(e + "HI", 42, ifd_off)
        + struct.pack(e + "H", ntags) + b"".join(tags)
        + struct.pack(e + "I", 0) + s
    )


def test_tiff_lzw_roundtrip_widths_and_resets(spark):
    """LZW decode across code-width growth (9→12 bits) and mid-stream
    ClearCode table resets — 16 B to 64 KB strips round trip exactly."""
    decode = multimodal.decode_tiff
    rng_l = np.random.default_rng(17)
    import random as _random

    rng = _random.Random(2)
    for n in (16, 256, 1024, 8192, 65536):
        data = bytearray()
        while len(data) < n:
            if rng.random() < 0.5:
                data += bytes([rng.randrange(256)]) * rng.randint(1, 9)
            else:
                data += bytes(rng.randrange(256) for _ in range(rng.randint(1, 9)))
        data = bytes(data[:n])
        dec = decode(_make_tiff_lzw(data, 16, n // 16))
        assert dec is not None, n
        assert dec[0].astype(np.uint8).tobytes() == data, n
    # malformed stream: garbage that does not open with ClearCode
    junk = _make_tiff_lzw(bytes(range(16)), 16, 1)
    body = bytearray(junk)
    body[-len(_lzw_encode_tiff(bytes(range(16)))):] = b"\x00" * len(
        _lzw_encode_tiff(bytes(range(16)))
    )
    assert decode(bytes(body)) is None


def test_tiff_lzw_predictor2_roundtrip(spark):
    """Predictor 2 (horizontal differencing) under LZW: per-row
    mod-256 deltas must cumsum back to the original samples exactly —
    including rows whose running sums wrap past 255 — on several
    row/column shapes."""
    decode = multimodal.decode_tiff
    rng = np.random.default_rng(5)
    for w, h in ((16, 1), (4, 4), (7, 5)):
        data = bytes(rng.integers(0, 256, w * h, dtype=np.uint8))
        rows = [data[r * w : (r + 1) * w] for r in range(h)]
        diffed = b"".join(
            bytes([r[0]] + [(r[j] - r[j - 1]) % 256 for j in range(1, w)])
            for r in rows
        )
        dec = decode(_make_tiff_lzw(diffed, w, h, predictor=2))
        assert dec is not None, (w, h)
        assert dec[0].astype(np.uint8).tobytes() == data, (w, h)


def test_tiff_predictor2_two_strip_rows_reset(spark):
    """Differencing restarts at every ROW, so strip boundaries are
    transparent: a two-strip LZW+predictor-2 image must decode to the
    same pixels as its single-strip twin."""
    decode = multimodal.decode_tiff
    rng = np.random.default_rng(7)
    w, h = 4, 4
    data = bytes(rng.integers(0, 256, w * h, dtype=np.uint8))
    rows = [data[r * w : (r + 1) * w] for r in range(h)]
    diffed = [
        bytes([r[0]] + [(r[j] - r[j - 1]) % 256 for j in range(1, w)]) for r in rows
    ]
    strips = [_lzw_encode_tiff(b"".join(diffed[:2])), _lzw_encode_tiff(b"".join(diffed[2:]))]
    e = "<"
    ntags = 10
    ifd_off = 8
    arrays_off = ifd_off + 2 + 12 * ntags + 4
    so_off, sc_off = arrays_off, arrays_off + 8
    data_off = sc_off + 8
    offs = [data_off, data_off + len(strips[0])]

    def sv(v):
        return struct.pack(e + "HH", v, 0)

    def lv(v):
        return struct.pack(e + "I", v)

    def tag(t, typ, cnt, val):
        return struct.pack(e + "HHI", t, typ, cnt) + val

    tags = [
        tag(256, 3, 1, sv(w)), tag(257, 3, 1, sv(h)), tag(258, 3, 1, sv(8)),
        tag(259, 3, 1, sv(5)), tag(262, 3, 1, sv(1)),
        tag(273, 4, 2, lv(so_off)), tag(277, 3, 1, sv(1)),
        tag(278, 3, 1, sv(2)), tag(279, 4, 2, lv(sc_off)),
        tag(317, 3, 1, sv(2)),
    ]
    payload = (
        b"II" + struct.pack(e + "HI", 42, ifd_off)
        + struct.pack(e + "H", ntags) + b"".join(tags)
        + struct.pack(e + "I", 0)
        + struct.pack(e + "II", *offs)
        + struct.pack(e + "II", *[len(s) for s in strips])
        + b"".join(strips)
    )
    dec = decode(payload)
    assert dec is not None
    assert dec[0].astype(np.uint8).tobytes() == data


def test_tiff_predictor_scope(spark):
    """Predictor 1 (none) is fine, float predictor 3 stays rejected,
    and predictor 2 paired with anything but LZW/Deflate is rejected
    rather than silently mis-decoded."""
    decode = multimodal.decode_tiff
    data = bytes(range(16))
    assert decode(_make_tiff_lzw(data, 16, 1)) is not None
    assert decode(_make_tiff_lzw(data, 16, 1, predictor=1)) is not None
    assert decode(_make_tiff_lzw(data, 16, 1, predictor=3)) is None
    # rewrite the Compression tag (259) from LZW to none: the pred=2
    # check fires before any strip is touched, so the stale body is
    # irrelevant to the rejection
    t = bytes(_make_tiff_lzw(data, 16, 1, predictor=2))
    pat = struct.pack("<HHIHH", 259, 3, 1, 5, 0)
    rep = struct.pack("<HHIHH", 259, 3, 1, 1, 0)
    assert t.count(pat) == 1
    assert decode(t.replace(pat, rep)) is None


def _make_tiff_strip(strip: bytes, w: int, h: int, comp: int,
                     predictor: int | None = None) -> bytes:
    """Single-strip grayscale TIFF around an already-encoded strip —
    the _make_tiff_lzw layout with the Compression code a parameter."""
    e = "<"
    ntags = 9 + (1 if predictor is not None else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * ntags + 4

    def sv(v):
        return struct.pack(e + "HH", v, 0)

    def lv(v):
        return struct.pack(e + "I", v)

    def tag(t, typ, cnt, val):
        return struct.pack(e + "HHI", t, typ, cnt) + val

    tags = [
        tag(256, 3, 1, sv(w)), tag(257, 3, 1, sv(h)), tag(258, 3, 1, sv(8)),
        tag(259, 3, 1, sv(comp)), tag(262, 3, 1, sv(1)),
        tag(273, 4, 1, lv(data_off)), tag(277, 3, 1, sv(1)),
        tag(278, 3, 1, sv(h)), tag(279, 4, 1, lv(len(strip))),
    ]
    if predictor is not None:
        tags.append(tag(317, 3, 1, sv(predictor)))
        tags.sort(key=lambda t: struct.unpack(e + "H", t[:2])[0])
    return (
        b"II" + struct.pack(e + "HI", 42, ifd_off)
        + struct.pack(e + "H", ntags) + b"".join(tags)
        + struct.pack(e + "I", 0) + strip
    )


def test_tiff_deflate_roundtrip(spark):
    """Compression 8 (Adobe Deflate) and the legacy pre-standard code
    32946: zlib strip streams round trip exactly, plain and under
    Predictor 2; a corrupt zlib stream isolates to None."""
    import zlib

    decode = multimodal.decode_tiff
    rng = np.random.default_rng(11)
    for w, h in ((16, 1), (4, 4), (7, 5), (16, 64)):
        data = bytes(rng.integers(0, 256, w * h, dtype=np.uint8))
        for comp in (8, 32946):
            dec = decode(_make_tiff_strip(zlib.compress(data), w, h, comp))
            assert dec is not None, (w, h, comp)
            assert dec[0].astype(np.uint8).tobytes() == data, (w, h, comp)
        # predictor 2 under deflate: per-row mod-256 deltas cumsum back
        rows = [data[r * w : (r + 1) * w] for r in range(h)]
        diffed = b"".join(
            bytes([r[0]] + [(r[j] - r[j - 1]) % 256 for j in range(1, w)])
            for r in rows
        )
        dec = decode(_make_tiff_strip(zlib.compress(diffed), w, h, 8, predictor=2))
        assert dec is not None, (w, h)
        assert dec[0].astype(np.uint8).tobytes() == data, (w, h)
    # corrupt zlib stream → None (per-row isolation), never an exception
    good = zlib.compress(bytes(range(16)))
    assert decode(_make_tiff_strip(good[:-3] + b"\x00\x00\x00", 16, 1, 8)) is None
    assert decode(_make_tiff_strip(b"\xff" * 20, 16, 1, 8)) is None
    # truncated inflate output (valid stream, too few bytes) → None
    assert decode(_make_tiff_strip(zlib.compress(bytes(8)), 16, 1, 8)) is None


def test_tiff_fixture_variant_deflate_matches_md5(spark):
    """The catalog generator's variant 6 (Deflate + Predictor 2) must
    decode to the md5 pixel bytes like every other variant — the
    single-oracle contract of multimodal_tiff_roundtrip."""
    import hashlib

    from financial_data_stream_processing_engine_spark.plans.media_fixtures import tiff

    decode = multimodal.decode_tiff
    # doc_ids 0..13 cover every variant twice
    for did in range(14):
        dec = decode(tiff(did))
        assert dec is not None, did
        px, nch = dec
        assert nch == 1 and px.shape == (4, 4, 1), did
        assert px.astype(np.uint8).tobytes() == hashlib.md5(
            str(did).encode()
        ).digest(), did


def test_audio_melbands_random_geometries_match_numpy(spark):
    """Randomized sweep over (n_fft, sr, n_bands): band energies must
    match the numpy weighted power sums for every geometry the
    filterbank accepts, and each triangle's captured bins must be a
    CONTIGUOUS run (mel triangles over a linear bin grid cannot skip a
    bin)."""
    import random as _random

    rng = _random.Random(59)
    rng_l = np.random.default_rng(61)
    trials = 0
    while trials < 5:
        n_fft = rng.choice((8, 16, 32))
        sr = rng.choice((4000, 8000, 16000))
        n_bands = rng.randint(2, 4)
        bins = tuple(range(1, n_fft // 2))
        try:
            weights = multimodal.mel_band_weights(
                n_fft=n_fft, sr=sr, bins=bins, n_bands=n_bands
            )
        except ValueError:
            continue  # over-split filterbank for this geometry: rejected loudly
        trials += 1
        by_band: dict[int, list] = {}
        for k, b, x in weights:
            by_band.setdefault(b, []).append((k, x))
        for b, rows in by_band.items():
            ks = sorted(k for k, _ in rows)
            assert ks == list(range(ks[0], ks[-1] + 1)), (n_fft, sr, n_bands, b)
        n = n_fft * 2
        hop = n_fft // 2
        p = bytes(rng_l.integers(0, 256, n, dtype=np.uint8))
        sdf = _samples_df(spark, [_make_pcm8_wav(p)], max_samples=n)
        stft = multimodal.audio_stft(sdf, n_fft=n_fft, hop=hop, bins=bins)
        got = {
            (r["frame_idx"], r["band"]): r["energy"]
            for r in multimodal.audio_melbands(stft, weights).collect()
        }
        x = (np.frombuffer(p, np.uint8).astype(np.float64) - 128.0) / 128.0
        n_frames = (n - n_fft) // hop + 1
        idx = np.arange(n_fft)
        assert len(got) == n_frames * len(by_band), (n_fft, sr, n_bands)
        for f in range(n_frames):
            seg = x[f * hop : f * hop + n_fft]
            pw = {
                k: float(np.sum(seg * np.cos(2 * np.pi * k * idx / n_fft))) ** 2
                + float(np.sum(seg * np.sin(2 * np.pi * k * idx / n_fft))) ** 2
                for k in bins
            }
            for b, rows in by_band.items():
                want = sum(w * pw[k] for k, w in rows)
                assert got[(f, b)] == pytest.approx(want, abs=1e-5), (n_fft, f, b)


def test_audio_segment_classes_consistent_with_features(spark):
    """The composed classifier must (a) exclude frame 0 (no flux
    predecessor), (b) emit exactly the CASE of its own feature
    columns — re-deriving the class in Python from the returned
    zc_rate/flatness_log/flux must reproduce segment_class row for
    row — and (c) produce every class on sign-diverse audio."""
    rng_l = np.random.default_rng(52)
    payloads = [bytes(rng_l.integers(0, 256, 64, dtype=np.uint8)) for _ in range(8)]
    sdf = _samples_df(spark, [_make_pcm8_wav(p) for p in payloads], max_samples=64)
    stft = multimodal.audio_stft(sdf, n_fft=16, hop=8, bins=tuple(range(1, 8)))
    out = multimodal.audio_segment_classes(
        sdf, stft, n_fft=16, hop=8,
        zcr_noise=0.57, flat_noise=-0.45, flux_voiced=18.0,
    ).collect()
    n_frames = (64 - 16) // 8 + 1
    assert len(out) == len(payloads) * (n_frames - 1)  # frame 0 excluded
    assert all(r["frame_idx"] >= 1 for r in out)
    for r in out:
        if r["zc_rate"] >= 0.57 and r["flatness_log"] >= -0.45:
            want = "noise"
        elif r["flux"] >= 18.0:
            want = "voiced"
        else:
            want = "music"
        assert r["segment_class"] == want, r


def test_video_scene_cuts_handcrafted(spark):
    """Cut detection must threshold the inter-frame luma delta: a
    dark→bright jump is a cut, a slow fade is not, frame 0 is
    excluded, and media are independent."""
    rows = [
        # media 0: dark, dark, BRIGHT (cut at 2), bright
        (0, 0, 0.10), (0, 1, 0.12), (0, 2, 0.80), (0, 3, 0.82),
        # media 1: slow fade — never cuts at 0.25
        (1, 0, 0.40), (1, 1, 0.50), (1, 2, 0.60),
    ]
    df = spark.createDataFrame(rows, "media_id long, frame_idx int, mean_luma double")
    got = {
        (r["media_id"], r["frame_idx"]): (r["is_cut"], r["luma_delta"])
        for r in multimodal.video_scene_cuts(df, threshold=0.25).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (0, 3), (1, 1), (1, 2)}  # no frame 0
    assert got[(0, 2)][0] is True
    assert all(not got[k][0] for k in got if k != (0, 2))
    assert abs(got[(0, 2)][1] - (0.80 - 0.12)) < 1e-15
