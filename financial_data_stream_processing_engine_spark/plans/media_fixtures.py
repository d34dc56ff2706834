"""Media fixture encoders for the multimodal catalog entries.

Each builder maps a ``doc_id`` to the bytes of one real media file
(PNG, GIF, BMP, TIFF, JPEG, WAV, MJPEG AVI) whose samples derive from
``md5(str(doc_id))``, so the DuckDB oracles can restate every decoded
value from the digest alone.  The builders share one copy of each
encoder primitive: the PNG chunk writer and envelope, the JPEG bit
writer, canonical-Huffman map, marker segments and DC-difference
coding, the RIFF chunk writer and the 8-bit mono WAV writer.

:func:`payload_frame` turns a ``doc_id`` frame into the ``doc_id long,
payload binary`` frame through ``mapInPandas``.  The builders are
module-level, so they pickle by reference and Python workers import
this module, which imports only the standard library, numpy and
pandas.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from functools import partial

import numpy as np
import pandas as pd

PAYLOAD_SCHEMA = "doc_id long, payload binary"


def _payload_batches(build, batches):
    for pdf in batches:
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": [build(int(d)) for d in pdf["doc_id"]]}
        )


def payload_frame(docs, build):
    """``docs`` (a ``doc_id`` frame) → ``(doc_id, payload)`` with
    ``payload = build(doc_id)``."""
    return docs.mapInPandas(partial(_payload_batches, build), schema=PAYLOAD_SCHEMA)


def _md5(doc_id: int, suffix: str = "") -> bytes:
    return hashlib.md5((str(doc_id) + suffix).encode()).digest()


# ---------------------------------------------------------------------------
# PNG (grayscale, color type 0)
# ---------------------------------------------------------------------------

#: Adam7 reduced passes as (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png(width: int, height: int, depth: int, interlace: int, scan: bytes) -> bytes:
    """Grayscale PNG around the filtered scanline bytes ``scan``."""
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 0, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan)) + _png_chunk(b"IEND", b"")
    )


def _png_filter(f: int, line, prev, bpp: int = 1) -> bytes:
    """Filter-type byte ``f`` plus ``line`` filtered against ``prev``
    (int arrays of scanline bytes) with a ``bpp``-byte pixel lane."""
    def shifted(a):
        return (
            np.concatenate([np.zeros(bpp, np.int32), a[:-bpp]])
            if len(a) > bpp else np.zeros_like(a)
        )

    left = shifted(line)
    if f == 0:
        out = line
    elif f == 1:
        out = line - left
    elif f == 2:
        out = line - prev
    elif f == 3:
        out = line - ((left + prev) >> 1)
    else:  # Paeth
        c = shifted(prev)
        p = left + prev - c
        pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - c)
        out = line - np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, c))
    return bytes([f]) + bytes((out & 0xFF).astype(np.uint8))


def png_4x4(doc_id: int) -> bytes:
    """4×4 grayscale PNG whose 16 pixels are the md5 digest bytes, one
    scanline per PNG filter type 0/1/2/3."""
    px = np.frombuffer(_md5(doc_id), np.uint8).reshape(4, 4).astype(np.int32)
    scan, prev = b"", np.zeros(4, np.int32)
    for y in range(4):
        scan += _png_filter(y, px[y], prev)
        prev = px[y]
    return _png(4, 4, 8, 0, scan)


def png_adam7(doc_id: int) -> bytes:
    """8×8 grayscale INTERLACED (Adam7) PNG whose 64 raster-order pixels
    are the md5 digest bytes tiled 4× — the seven reduced passes each
    carry their standard sub-grid, independently filtered with a
    rotating filter type (pass+row) % 5 so all five PNG filters occur
    inside sub-images."""
    d = _md5(doc_id)
    px = np.array([d[i % 16] for i in range(64)], np.int32).reshape(8, 8)
    scan = b""
    for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = px[y0::dy, x0::dx]
        prev = np.zeros(sub.shape[1], np.int32)
        for r in range(sub.shape[0]):
            scan += _png_filter((pi + r) % 5, sub[r], prev)
            prev = sub[r]
    return _png(8, 8, 8, 1, scan)


def png_4bit(doc_id: int) -> bytes:
    """8×4 four-BIT grayscale PNG, Adam7-INTERLACED, whose 32 samples
    are the md5 digest's nibbles in hex order — six non-empty reduced
    passes (some one sample wide, so scanlines carry padding bits),
    every pass independently filtered with a rotating filter.
    Exercises sub-byte MSB-first unpacking, per-pass bit re-packing,
    padding-bit discard, and the fbpp=1 filter lane at once."""

    def pack4(row):
        bits = [(int(v) >> i) & 1 for v in row for i in (3, 2, 1, 0)]
        bits += [0] * (-len(bits) % 8)
        return np.packbits(np.array(bits, np.uint8)).tobytes()

    hx = hashlib.md5(str(doc_id).encode()).hexdigest()
    px = np.array([int(c, 16) for c in hx], np.uint8).reshape(4, 8)
    scan = b""
    for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = px[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        prev = np.zeros(len(pack4(sub[0])), np.int32)
        for r in range(sub.shape[0]):
            line = np.frombuffer(pack4(sub[r]), np.uint8).astype(np.int32)
            scan += _png_filter((pi + r) % 5, line, prev)
            prev = line
    return _png(8, 4, 4, 1, scan)


def png_16bit(doc_id: int) -> bytes:
    """4×4 grayscale 16-BIT PNG whose big-endian samples are
    ``md5[i]·256 + md5[(i+1) mod 16]`` (every digest byte appears once
    as a high and once as a low byte, so the sample total is exactly
    257·Σdigest — SQL-restatable).  Rows are filtered
    Paeth/Sub/Up/Average with the 2-byte-per-pixel lane offset, the
    part an 8-bit-only unfilter gets wrong."""
    d = _md5(doc_id)
    be = np.zeros((4, 4, 2), np.uint8)
    for i in range(16):
        be[i // 4, i % 4, 0] = d[i]
        be[i // 4, i % 4, 1] = d[(i + 1) % 16]
    rows = be.reshape(4, 8).astype(np.int32)
    scan, prev = b"", np.zeros(8, np.int32)
    for y, f in enumerate((4, 1, 2, 3)):
        scan += _png_filter(f, rows[y], prev, 2)
        prev = rows[y]
    return _png(4, 4, 16, 0, scan)


def png_phash(doc_id: int) -> bytes:
    """8×8 grayscale PNG whose 64 raster-order pixels are the
    concatenated md5(f"{src}:{k}") digests (k = 0..3), with a PLANTED
    near-dup family: docs with ``doc_id % 5 == 4`` reuse the pixels of
    ``doc_id - 4`` with pixel 0 XOR 1 — a one-intensity-level
    perturbation whose pHash lands at tiny Hamming distance from its
    source."""
    src = doc_id - 4 if doc_id % 5 == 4 else doc_id
    px = bytearray(b"".join(_md5(src, f":{k}") for k in range(4)))
    if doc_id % 5 == 4:
        px[0] ^= 1
    return _png(8, 8, 8, 0, b"".join(b"\x00" + bytes(px[y * 8 : (y + 1) * 8]) for y in range(8)))


# ---------------------------------------------------------------------------
# GIF, BMP, TIFF
# ---------------------------------------------------------------------------

#: fixed 16-color GIF fixture palette: i → (17i, 255−17i, (37i+11)%256)
GIF_PALETTE = [(17 * i, 255 - 17 * i, (37 * i + 11) % 256) for i in range(16)]


def _gif_lzw(indices, mcs: int) -> bytes:
    """Greedy longest-match GIF LZW (variable code width, clear/EOI,
    LSB-first packing)."""
    clear, eoi, width = 1 << mcs, (1 << mcs) + 1, mcs + 1
    table = {(i,): i for i in range(1 << mcs)}
    next_code = eoi + 1
    bits = []

    def emit(code, wd):
        bits.extend((code >> i) & 1 for i in range(wd))

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
    bits += [0] * (-len(bits) % 8)
    return bytes(
        sum(bits[i + j] << j for j in range(8)) for i in range(0, len(bits), 8)
    )


def gif(doc_id: int) -> bytes:
    """4×4 INTERLACED GIF89a whose 16 pixels index
    :data:`GIF_PALETTE` by the md5 digest's nibbles, compressed with a
    real LZW encoder and preceded by a graphics-control extension the
    decoder must skip."""
    hx = hashlib.md5(str(doc_id).encode()).hexdigest()
    idx = [[int(hx[4 * r + c], 16) for c in range(4)] for r in range(4)]
    rows = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(start, 4, step)]
    out = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80 | 3, 0, 0)
    out += b"".join(bytes(c) for c in GIF_PALETTE)
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE, skipped
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0x40) + bytes([4])
    data = _gif_lzw([v for r in rows for v in idx[r]], 4)
    for i in range(0, len(data), 255):
        ch = data[i : i + 255]
        out += bytes([len(ch)]) + ch
    return out + b"\x00\x3b"


def bmp(doc_id: int) -> bytes:
    """4×4 24-bit bottom-up BMP whose pixel (r, g, b) at raster
    position i is md5 bytes (i, (i+5)%16, (i+11)%16) — written as BGR
    rows bottom-up with 4-byte padding (w=4 → 12-byte rows, no pad, so
    the padding path is pinned by the pytest's odd widths instead)."""
    d = _md5(doc_id)
    stride = (4 * 3 + 3) & ~3
    rows = b""
    for y in range(3, -1, -1):  # bottom-up storage
        row = b""
        for x in range(4):
            i = 4 * y + x
            row += bytes([d[(i + 11) % 16], d[(i + 5) % 16], d[i]])  # BGR on disk
        rows += row + b"\x00" * (stride - len(row))
    dib = struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    off = 14 + 40
    return b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off) + dib + rows


def _tiff_lzw(s: bytes) -> bytes:
    """TIFF LZW: MSB-first codes, ClearCode/EOI, early change."""
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
    for ch in s:
        c = bytes([ch])
        if w + c in table:
            w = w + c
            continue
        put(table[w])
        table[w + c] = nextcode
        nextcode += 1
        # encoder table runs one entry ahead of the decoder's,
        # which grows at (1<<width)-1 — mirror point 1<<width
        if nextcode == (1 << width) and width < 12:
            width += 1
        if nextcode >= 4093:  # near-full: spec ClearCode reset
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


def _packbits(s: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[j] and j - i < 127:
            j += 1
        if j > i:  # replicate run of 2+
            out += bytes([257 - (j - i + 1), s[i]])
            i = j + 1
        else:
            k = i
            while (
                k < len(s) and k - i < 128
                and not (k + 1 < len(s) and s[k] == s[k + 1])
            ):
                k += 1
            out += bytes([k - i - 1]) + s[i:k]
            i = k
    return bytes(out)


def tiff(doc_id: int) -> bytes:
    """4×4 8-bit grayscale TIFF whose 16 pixels are the md5 digest
    bytes, cycling through seven real encoder layouts by doc_id so ONE
    oracle certifies every decode path on identical pixel values:

      doc_id%7==0  II (little-endian), uncompressed, one strip
      doc_id%7==1  MM (big-endian), uncompressed, TWO strips (rps=2,
                   offset/count arrays offset-addressed)
      doc_id%7==2  II, PackBits-compressed strip
      doc_id%7==3  MM, PhotometricInterpretation 0 (WhiteIsZero) with
                   pre-inverted sample bytes — decode re-inverts, so
                   the luma equals the other variants'
      doc_id%7==4  II, LZW-compressed strip (MSB-first, ClearCode/EOI;
                   width growth and table resets are pytest territory
                   — a 16-byte strip stays at 9-bit codes)
      doc_id%7==5  II, LZW under Predictor 2 (horizontal differencing)
      doc_id%7==6  II, Deflate (Compression 8, zlib strip) under
                   Predictor 2 — the predictor composes with both
                   entropy coders through the same cumsum reversal
    """
    data = _md5(doc_id)
    variant = doc_id % 7
    e = "<" if variant in (0, 2, 4, 5, 6) else ">"
    photo = 0 if variant == 3 else 1
    if variant == 3:
        data = bytes(255 - x for x in data)
    rps = 4
    if variant == 1:
        strips = [data[:8], data[8:]]
        rps = 2
    elif variant == 2:
        strips = [_packbits(data)]
    elif variant == 4:
        strips = [_tiff_lzw(data)]
    elif variant in (5, 6):
        # Predictor 2: each 4-byte row stores horizontal deltas mod 256
        # (first sample absolute), entropy-coded by LZW (variant 5) or
        # a zlib Deflate stream (6)
        rows = [data[i * 4 : (i + 1) * 4] for i in range(4)]
        diffed = b"".join(
            bytes([r[0]] + [(r[j] - r[j - 1]) % 256 for j in range(1, 4)])
            for r in rows
        )
        strips = [_tiff_lzw(diffed) if variant == 5 else zlib.compress(diffed)]
    else:
        strips = [data]
    comp = {2: 32773, 4: 5, 5: 5, 6: 8}.get(variant, 1)
    n_strips = len(strips)
    ntags = 10 if variant in (5, 6) else 9
    ifd_off = 8
    arrays_off = ifd_off + 2 + 12 * ntags + 4
    if n_strips > 1:
        so_off = arrays_off
        sc_off = so_off + 4 * n_strips
        data_off = sc_off + 4 * n_strips
    else:
        data_off = arrays_off
    offs, pos = [], data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)

    def short_val(v):
        return struct.pack(e + "HH", v, 0)

    def long_val(v):
        return struct.pack(e + "I", v)

    def tag(t, typ, cnt, val):
        return struct.pack(e + "HHI", t, typ, cnt) + val

    tags = [
        tag(256, 3, 1, short_val(4)),
        tag(257, 3, 1, short_val(4)),
        tag(258, 3, 1, short_val(8)),
        tag(259, 3, 1, short_val(comp)),
        tag(262, 3, 1, short_val(photo)),
        tag(273, 4, n_strips, long_val(offs[0] if n_strips == 1 else so_off)),
        tag(277, 3, 1, short_val(1)),
        tag(278, 3, 1, short_val(rps)),
        tag(279, 4, n_strips, long_val(len(strips[0]) if n_strips == 1 else sc_off)),
    ]
    if variant in (5, 6):
        tags.append(tag(317, 3, 1, short_val(2)))  # Predictor 2
    out = (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    out += struct.pack(e + "H", ntags) + b"".join(tags)
    out += struct.pack(e + "I", 0)  # no next IFD
    if n_strips > 1:
        out += struct.pack(e + "I" * n_strips, *offs)
        out += struct.pack(e + "I" * n_strips, *[len(s) for s in strips])
    return out + b"".join(strips)


# ---------------------------------------------------------------------------
# JPEG (all-ones quantization, DC-only blocks)
# ---------------------------------------------------------------------------


class _BitWriter:
    """JPEG entropy-coded segment writer: MSB-first bits, 0xFF byte
    stuffing, 1-bit padding on flush."""

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def put(self, val: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def code(self, m: dict, sym: int) -> None:
        ln, cd = m[sym]
        self.put(cd, ln)

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def _huffman_map(bits, vals) -> dict:
    """Canonical Huffman: symbol → (code length, code)."""
    m, code, vi = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            m[vals[vi]] = (ln, code)
            code += 1
            vi += 1
        code <<= 1
    return m


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _dht(tc: int, th: int, bits, vals) -> bytes:
    return _seg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))


def _sof(marker: int, width: int, height: int, comps: bytes) -> bytes:
    """Frame header; ``comps`` holds (id, sampling, quant table) triples."""
    return _seg(marker, struct.pack(">BHHB", 8, height, width, len(comps) // 3) + comps)


def _sos(comps: bytes, ss: int = 0, se: int = 63, ah: int = 0, al: int = 0) -> bytes:
    """Scan header; ``comps`` holds (id, DC/AC table ids) pairs."""
    return _seg(0xDA, bytes([len(comps) // 2]) + comps + bytes([ss, se, ah << 4 | al]))


#: standard Annex-K luminance DC table
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_DC = _huffman_map(_DC_BITS, _DC_VALS)
#: minimal AC table: the single symbol EOB (0x00) with code '0'
_EOB_BITS, _EOB_VALS = [1] + [0] * 15, [0x00]
_EOB = _huffman_map(_EOB_BITS, _EOB_VALS)

#: all-ones quantization: a constant block's single integer DC
#: coefficient survives dequantize + IDCT exactly
_SOI_DQT = b"\xff\xd8" + _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
_BASELINE_DHT = _dht(0, 0, _DC_BITS, _DC_VALS) + _dht(1, 0, _EOB_BITS, _EOB_VALS)
_GRAY16_HEAD = _SOI_DQT + _sof(0xC0, 16, 16, bytes([1, 0x11, 0])) + _BASELINE_DHT


def _put_dc(bw: _BitWriter, diff: int) -> None:
    """DC difference: Huffman-coded size category, then the value bits."""
    size = abs(diff).bit_length()
    bw.code(_DC, size)
    if size:
        bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)


def _dc_only_entropy(*components) -> bytes:
    """Entropy data of DC-only blocks, each closed by EOB: every
    component's block constants are coded as successive differences
    off that component's own predictor."""
    bw = _BitWriter()
    for consts in components:
        pred = 0
        for c in consts:
            dc = 8 * (c - 128)
            _put_dc(bw, dc - pred)
            bw.code(_EOB, 0x00)
            pred = dc
    return bw.flush()


def _gray16_jpeg(consts) -> bytes:
    """16×16 baseline grayscale JPEG of four constant 8×8 blocks."""
    return _GRAY16_HEAD + _sos(bytes([1, 0x00])) + _dc_only_entropy(consts) + b"\xff\xd9"


def jpeg(doc_id: int) -> bytes:
    """16×16 baseline grayscale JPEG of four 8×8 blocks whose constant
    values are md5 bytes 0-3.  All-ones quantization + constant
    (DC-only) blocks make the decode EXACT: DCT of a constant block has
    a single integer DC coefficient, so dequantize+IDCT reproduces the
    constants bit-for-bit after rounding — which is what lets DuckDB
    state the expected mean luma from the md5 bytes alone.  The AC path
    is exercised through its Huffman table + EOB codes."""
    return _gray16_jpeg(_md5(doc_id)[:4])


def jpeg_progressive(doc_id: int) -> bytes:
    """16×16 PROGRESSIVE (SOF2) grayscale JPEG of four 8×8 blocks,
    decoded over SIX scans: DC-first (Al=1), AC band 1-5 first (Al=1),
    AC band 6-63 first (Al=1), a MID-STREAM DHT that redefines both AC
    table ids, AC band 1-5 refinement (corrections consumed inside a
    cross-block EOB4 run), AC band 6-63 refinement (newly-significant
    ±1 insertion), and a DC refinement bit per block.  Pixel recipe:
    block i's constant is md5 byte i — the DC LSB (md5-derived, sent
    only in the DC refinement scan) and the ±2 / ±1 AC coefficients
    perturb each pixel by < 0.5, so rint() restores the exact constants
    and the baseline-roundtrip oracle applies unchanged."""
    # first-scan AC tables vs post-DHT refinement tables: same ids (0
    # and 1), DIFFERENT code→symbol meanings — decodes only if the
    # decoder snapshots tables per scan
    A0_1B, A0_1V = [1, 2] + [0] * 14, [0x11, 0x00, 0x10]
    A1_1B, A1_1V = [1] + [0] * 15, [0x20]
    A0_2B, A0_2V = [1] + [0] * 15, [0x20]
    A1_2B, A1_2V = [1, 2] + [0] * 14, [0x41, 0x00, 0x10]
    AC0_V1, AC1_V1 = _huffman_map(A0_1B, A0_1V), _huffman_map(A1_1B, A1_1V)
    AC0_V2, AC1_V2 = _huffman_map(A0_2B, A0_2V), _huffman_map(A1_2B, A1_2V)

    d = _md5(doc_id)
    lsb = [0, 0, d[6] & 1, d[7] & 1]
    dcs = [8 * (d[i] - 128) + lsb[i] for i in range(4)]
    ac2 = [2 if d[8] & 1 else -2, 2 if d[9] & 1 else -2]
    ac10 = [1 if d[10] & 1 else -1, 1 if d[11] & 1 else -1]
    out = bytearray(
        _SOI_DQT
        + _sof(0xC2, 16, 16, bytes([1, 0x11, 0]))
        + _dht(0, 0, _DC_BITS, _DC_VALS)
        + _dht(1, 0, A0_1B, A0_1V)
        + _dht(1, 1, A1_1B, A1_1V)
    )
    # scan 1: DC first, Al=1 — diffs of dc>>1, raster order
    bw, pred = _BitWriter(), 0
    for dc in dcs:
        _put_dc(bw, (dc >> 1) - pred)
        pred = dc >> 1
    out += _sos(bytes([1, 0x00]), 0, 0, 0, 1) + bw.flush()
    # scan 2: AC 1-5 first, Al=1 — ±1 high-bits at zigzag 2 in blocks
    # 0,1; EOB2 run across blocks 2,3
    bw = _BitWriter()
    for b in (0, 1):
        bw.code(AC0_V1, 0x11)  # run=1, size=1
        bw.put(1 if ac2[b] > 0 else 0, 1)
        bw.code(AC0_V1, 0x00)
    bw.code(AC0_V1, 0x10)  # EOBn r=1 → eobrun 2
    bw.put(0, 1)
    out += _sos(bytes([1, 0x00]), 1, 5, 0, 1) + bw.flush()
    # scan 3: AC 6-63 first, Al=1 — nothing visible yet: EOB4
    bw = _BitWriter()
    bw.code(AC1_V1, 0x20)
    bw.put(0, 2)
    out += _sos(bytes([1, 0x01]), 6, 63, 0, 1) + bw.flush()
    # mid-stream DHT: new meanings for ids 0,1
    out += _dht(1, 0, A0_2B, A0_2V) + _dht(1, 1, A1_2B, A1_2V)
    # scan 4: AC 1-5 refinement — EOB4 run; blocks 0,1's
    # nonzero-history coeff takes its correction bit INSIDE the run
    # (|±2| has LSB 0)
    bw = _BitWriter()
    bw.code(AC0_V2, 0x20)
    bw.put(0, 2)
    bw.put(0, 1)  # block 0 correction
    bw.put(0, 1)  # block 1 correction (consumed mid-EOB-run)
    out += _sos(bytes([1, 0x00]), 1, 5, 1, 0) + bw.flush()
    # scan 5: AC 6-63 refinement — EOB2 over blocks 0,1, then
    # newly-significant ±1 at zigzag 10 in blocks 2,3
    bw = _BitWriter()
    bw.code(AC1_V2, 0x10)
    bw.put(0, 1)
    for b in (0, 1):
        bw.code(AC1_V2, 0x41)  # 4 zero-history coeffs, then ±1
        bw.put(1 if ac10[b] > 0 else 0, 1)
        bw.code(AC1_V2, 0x00)
    out += _sos(bytes([1, 0x01]), 6, 63, 1, 0) + bw.flush()
    # scan 6: DC refinement — the md5-derived LSB per block
    bw = _BitWriter()
    for dc in dcs:
        bw.put(dc & 1, 1)
    out += _sos(bytes([1, 0x00]), 0, 0, 1, 0) + bw.flush()
    return bytes(out + b"\xff\xd9")


def jpeg_restart(doc_id: int) -> bytes:
    """16×16 baseline grayscale JPEG with DRI=1 — every MCU is its own
    byte-aligned entropy segment separated by RST0..RST2, so each
    block's DC diff is the ABSOLUTE value (predictor resets at every
    marker).  A decoder that fails to byte-align, misses the predictor
    reset, or treats the RST bytes as entropy data produces wrong
    constants or EOF → NULL.  Same md5 pixel recipe as :func:`jpeg`."""
    d = _md5(doc_id)
    out = _GRAY16_HEAD + _seg(0xDD, struct.pack(">H", 1)) + _sos(bytes([1, 0x00]))
    out += b"".join(
        _dc_only_entropy(d[i : i + 1]) + (bytes([0xFF, 0xD0 + i]) if i < 3 else b"")
        for i in range(4)
    )
    return out + b"\xff\xd9"


def jpeg_color(doc_id: int) -> bytes:
    """1×1 baseline 4:4:4 COLOR JPEG whose single interleaved MCU
    carries three DC-only blocks with constants Y/Cb/Cr = md5 bytes
    0/1/2.  All-ones quant makes the component planes exact, so the
    decoded RGB pixel is the JFIF BT.601 conversion of the md5 bytes —
    restatable in SQL.  The 1×1 frame keeps the luma mean a
    single-value mean (no float summation tree to replicate)."""
    d = _md5(doc_id)
    return (
        _SOI_DQT
        + _sof(0xC0, 1, 1, bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]))
        + _BASELINE_DHT
        + _sos(bytes([1, 0x00, 2, 0x00, 3, 0x00]))
        + _dc_only_entropy(d[0:1], d[1:2], d[2:3])
        + b"\xff\xd9"
    )


def jpeg_420(doc_id: int) -> bytes:
    """16×16 baseline **4:2:0** COLOR JPEG — one interleaved MCU with
    luma sampling 2×2 (FOUR Y blocks, DC-coded as successive
    differences off the shared per-component predictor) plus one Cb
    and one Cr block.  DC-only blocks with all-ones quant make each 8×8
    Y quadrant exactly md5 byte 0/1/2/3 and the (2×-upsampled) chroma
    planes constant bytes 4/5 — so the decoded RGB image is four
    constant quadrants restatable in SQL.  This exercises everything
    4:4:4 cannot: the multi-block MCU walk, intra-MCU DC prediction,
    per-component plane geometry, and chroma replication upsampling."""
    d = _md5(doc_id)
    return (
        _SOI_DQT
        + _sof(0xC0, 16, 16, bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
        + _BASELINE_DHT
        + _sos(bytes([1, 0x00, 2, 0x00, 3, 0x00]))
        + _dc_only_entropy(d[:4], d[4:5], d[5:6])
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# RIFF: WAV and MJPEG AVI
# ---------------------------------------------------------------------------


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    """RIFF chunk, word-aligned (odd bodies get one pad byte)."""
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def _wav_pcm8(pcm: bytes) -> bytes:
    """8 kHz mono 8-bit-PCM WAV of the sample bytes ``pcm``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(pcm)
    return buf.getvalue()


def wav(doc_id: int) -> bytes:
    """16-sample 8-bit-PCM mono WAV: samples = the md5 digest bytes."""
    return _wav_pcm8(_md5(doc_id))


def wav_stft(doc_id: int) -> bytes:
    """64-sample 8-bit-PCM WAV — four md5 digests (of doc_id,
    doc_id:1, doc_id:2, doc_id:3) concatenated, so the oracle can
    restate every sample from SQL MD5 calls."""
    return _wav_pcm8(b"".join(_md5(doc_id, suf) for suf in ("", ":1", ":2", ":3")))


def wav_ulaw(doc_id: int) -> bytes:
    """G.711 µ-law WAV: the 16 md5 bytes verbatim as µ-law code words
    (fmt tag 7, a ``fact`` chunk the walker must skip, 8 kHz mono)."""
    data = _md5(doc_id)
    fmt = struct.pack("<HHIIHHH", 7, 1, 8000, 8000, 1, 8, 0)
    return _riff_chunk(
        b"RIFF",
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", struct.pack("<I", len(data)))
        + _riff_chunk(b"data", data),
    )


def mjpeg_avi(doc_id: int) -> bytes:
    """Minimal-but-well-formed AVI (RIFF 'AVI ': LIST hdrl with avih +
    one vids/MJPG LIST strl, LIST movi) containing FOUR 16×16 grayscale
    baseline JPEG frames; frame f's four 8×8 blocks are md5 bytes
    4f..4f+3 — the :func:`jpeg` fixture promoted to a video
    container."""

    def lst(ltype: bytes, body: bytes) -> bytes:
        return _riff_chunk(b"LIST", ltype + body)

    d = _md5(doc_id)
    avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0x10, 4, 0, 1, 0, 16, 16) + b"\x00" * 16
    strh = (
        b"vidsMJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, 4, 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, 16, 16)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, 16, 16, 1, 24, b"MJPG", 0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", _riff_chunk(b"avih", avih)
               + lst(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(
        _riff_chunk(b"00dc", _gray16_jpeg(d[4 * f : 4 * f + 4])) for f in range(4)
    ))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)
