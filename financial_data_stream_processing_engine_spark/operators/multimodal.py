"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns next to typed metadata
(the lakehouse-native layout: content-addressed blobs or inline bytes,
schema'd sidecar fields).  The Spark-side plumbing — schemas, Arrow
batch shapes, mapInPandas signatures, partitioning — is shared by two
codec paths per modality: REAL decoders written from scratch on the
stdlib and numpy (no imaging/audio library), and a deterministic
sha-derived stand-in (``fake=True``) that external SQL oracles can
recompute.  Undecodable payloads yield NULL features per row — the
multimodal twin of the cleaner's drop-don't-raise contract.

The codecs are plain module functions, each ``bytes -> tuple | None``:
``decode_png``, ``decode_jpeg`` (baseline and progressive),
``decode_gif``, ``decode_bmp`` and ``decode_tiff`` return
``(px, nch)``, with :func:`decode_image` dispatching on the magic
bytes; ``decode_wav`` (PCM, µ-law, IMA ADPCM) returns
``(rate, nch, samples)``; MJPEG-in-AVI video decodes each frame with
``decode_jpeg``.  :func:`_map_payloads` is the one Arrow seam that
runs a per-payload function over a media frame.

MEDIA_SCHEMA is the canonical layout:
    media_id BIGINT, kind STRING ('image'|'audio'|...), payload BINARY,
    meta STRUCT<mime STRING, n_bytes BIGINT, sha256 STRING>
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("sha256", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id bigint, kind string, width int, height int, n_channels int, "
    "mean_luma double"
)


def as_media(
    df: DataFrame, id_col: str, payload: F.Column, kind: str, mime: str
) -> DataFrame:
    """Wrap a binary expression into the canonical media layout.

    Metadata (size, content hash) is computed engine-side from the
    payload — built-in, no Python.
    """
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ).alias("meta"),
    )


def decode_png(b: bytes):
    """Stdlib PNG decode → ``(px, nch) | None``: ``px`` is a float64
    array of shape (h, w, c_eff) — palette images come back expanded
    to RGB — and ``nch`` is the declared channel count."""
    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, plte, idat = 8, None, None, []
    try:
        while pos + 8 <= len(b):
            ln, typ = struct.unpack(">I4s", b[pos : pos + 8])
            pos += 8
            data = b[pos : pos + ln]
            pos += ln + 4  # payload + CRC (CRC not verified)
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"PLTE":
                plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = ihdr
        nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if (
            depth not in (1, 2, 4, 8, 16) or comp != 0 or filt != 0
            or interlace not in (0, 1) or nch is None
            or (depth < 8 and ctype not in (0, 3))  # sub-byte: gray/palette only (11.2.2)
            or (ctype == 3 and depth == 16)  # palette indices are <= 8-bit
        ):
            return None
        raw = zlib.decompress(b"".join(idat))
    except Exception:
        return None
    if w == 0 or h == 0:
        return None
    fbpp = max(1, nch * depth // 8)  # filter byte-lane offset (PNG 9.2)

    def unfilter(block: bytes, stride: int, h_sub: int):
        """One filtered scanline image (a whole frame, or one Adam7
        pass — each pass restarts filtering with a zero prior row,
        per PNG 8.2).  Filters operate on BYTES with the previous
        pixel fbpp bytes back (one byte for sub-byte depths),
        whatever the sample layout."""
        rows = np.frombuffer(block, np.uint8).reshape(h_sub, stride + 1)
        ftype, lines = rows[:, 0], rows[:, 1:]
        sub = np.zeros((h_sub, stride), np.uint8)
        prev = np.zeros(stride, np.int32)
        for y in range(h_sub):
            f, line = ftype[y], lines[y].astype(np.int32)
            if f == 0:
                rec = line
            elif f == 2:  # Up — vectorized
                rec = line + prev
            elif f == 1:  # Sub — per-byte-lane running sum
                rec = line.reshape(-1, fbpp).cumsum(axis=0).reshape(stride)
            elif f in (3, 4):  # Average / Paeth — sequential by spec
                rec = np.empty(stride, np.int32)
                for x in range(stride):
                    a = rec[x - fbpp] & 0xFF if x >= fbpp else 0
                    up = prev[x]
                    if f == 3:
                        rec[x] = line[x] + ((a + up) >> 1)
                    else:
                        c = prev[x - fbpp] if x >= fbpp else 0
                        p = a + up - c
                        pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                        pr = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                        rec[x] = line[x] + pr
            else:
                return None
            sub[y] = rec & 0xFF  # mod-256 per spec
            prev = sub[y].astype(np.int32)
        return sub

    def read_pass(block: bytes, wpx: int, hpx: int):
        """Filtered bytes of one scanline image → (hpx, wpx, nch)
        integer SAMPLES: byte pairs for depth 16, raw bytes for 8,
        MSB-first bit groups for 1/2/4 (PNG 7.2)."""
        stride = (wpx * nch * depth + 7) // 8
        rows = unfilter(block, stride, hpx)
        if rows is None:
            return None
        if depth == 8:
            return rows.reshape(hpx, wpx, nch)
        if depth == 16:
            pair = rows.reshape(hpx, wpx, nch, 2).astype(np.uint16)
            return (pair[..., 0] << 8) | pair[..., 1]
        bits = np.unpackbits(rows, axis=1)
        weights = 1 << np.arange(depth - 1, -1, -1)
        vals = bits.reshape(hpx, -1, depth) @ weights
        return vals[:, :wpx].astype(np.uint8)[..., None]

    def pass_bytes(wpx: int, hpx: int) -> int:
        return hpx * ((wpx * nch * depth + 7) // 8 + 1)

    if interlace == 0:
        need = pass_bytes(w, h)
        if len(raw) < need:
            return None
        samples = read_pass(raw[:need], w, h)
        if samples is None:
            return None
    else:
        # Adam7 (PNG 8.2): seven independently-filtered reduced
        # images, scattered back on the standard (x0, y0, dx, dy)
        # grid; empty passes contribute no scanlines at all.
        samples = np.zeros((h, w, nch), np.uint16 if depth == 16 else np.uint8)
        at = 0
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            w_sub = (w - x0 + dx - 1) // dx
            h_sub = (h - y0 + dy - 1) // dy
            if w_sub <= 0 or h_sub <= 0:
                continue
            need = pass_bytes(w_sub, h_sub)
            if len(raw) < at + need:
                return None
            sub = read_pass(raw[at : at + need], w_sub, h_sub)
            if sub is None:
                return None
            at += need
            samples[y0::dy, x0::dx, :] = sub
    if ctype == 3:  # palette lookup (indices at any 1/2/4/8 depth)
        if plte is None:
            return None
        idx = samples[..., 0].astype(np.int64)
        if int(idx.max(initial=0)) >= len(plte):
            return None
        return plte[idx].astype(np.float64), nch
    sf = samples.astype(np.float64)
    if depth == 16:
        # big-endian 16-bit samples, scaled to the 8-bit range by
        # the EXACT dyadic /256 (not the lossy /257 "true"
        # rescale) so downstream means stay bitwise-restatable
        px = sf / 256.0
    elif depth < 8:
        # 255/(2^d - 1) is an exact integer (255, 85, 17): sub-byte
        # samples scale to 0..255 losslessly
        px = sf * (255.0 / ((1 << depth) - 1))
    else:
        px = sf
    return px, nch


#: JPEG zigzag scan order → raster index of each coefficient
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
#: orthonormal 8-point DCT basis: px_block = DCT8_BASIS.T @ coeff @ DCT8_BASIS
DCT8_BASIS = np.cos(
    (2 * np.arange(8.0)[None, :] + 1) * np.arange(8.0)[:, None] * np.pi / 16
) * np.where(np.arange(8)[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8))


def build_huff(bits, vals):
    """canonical-code table: {(length, code): symbol}"""
    table, code, vi = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[vi]
            code += 1
            vi += 1
        code <<= 1
    return table


class BitReader:
    """MSB-first bit reader over one unstuffed JPEG entropy segment."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise EOFError
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table) -> int:
        ln, code = 0, 0
        while ln < 16:
            code = (code << 1) | self.read_bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")


def extend(v: int, size: int) -> int:
    # JPEG F.2.2.1: ones'-complement negative representation
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(b: bytes):
    """Stdlib+numpy JPEG decode → ``(px, nch) | None``, ``px`` of
    shape (h, w, 1) grayscale or (h, w, 3) RGB, float64 in 0..255.

    Scope: baseline sequential DCT (SOF0) AND progressive DCT (SOF2),
    8-bit, grayscale OR 3-component YCbCr at any divisible
    sampling-factor combination — 4:4:4 (1×1), the dominant
    real-world 4:2:0 (luma 2×2), 4:2:2 (2×1) and 4:4:0 (1×2) — the
    common denominators a training pipeline's luma/size probe needs.
    The entropy decode is the full baseline algorithm (canonical
    Huffman tables from DHT, per-component DC prediction, AC run/size
    with EOB and ZRL, byte unstuffing) over the generic MCU structure
    (h_i×v_i blocks per component per MCU, scan-component order).
    Progressive files (ITU-T T.81 §G) accumulate per-block
    coefficients across ANY number of scans: spectral-selection bands
    (Ss..Se), successive approximation (Ah/Al) for DC and AC —
    first scans with shifted values and cross-block EOB runs, and
    refinement scans with correction bits, newly-significant ±1
    insertion and corrections-during-EOB-runs; Huffman tables are
    snapshotted per scan so mid-stream DHT redefinition decodes
    correctly.  Restart markers (DRI + RSTn, F.2.1.3) are supported in
    BOTH paths: the entropy stream splits into byte-aligned restart
    segments at RSTn, and every sri MCUs the decoder starts the next
    segment with DC predictors (and, in progressive AC scans, the EOB
    run — which may not legally cross a restart) reset.  Both paths
    share dezigzag, dequantization, float IDCT, level shift,
    nearest-neighbor (pixel-replication) chroma upsampling to full
    resolution, and — for color — the JFIF BT.601 YCbCr→RGB
    conversion.  Anything out of scope (12-bit, arithmetic coding,
    hierarchical, non-divisible sampling ratios) returns None → NULL
    features, per-row error isolation.
    """
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    try:
        pos = 2
        qt: dict[int, np.ndarray] = {}
        huff_dc: dict[int, dict] = {}
        huff_ac: dict[int, dict] = {}
        w = h = None
        comps = None  # [(id, tq), ...] in frame order
        scan = None
        progressive = False
        ri = 0  # DRI restart interval (MCUs), 0 = none
        scans = []  # SOF2: [(segs, sel_tables, ss, se, ah, al, ri)]
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            ln = struct.unpack(">H", b[pos : pos + 2])[0]
            seg = b[pos + 2 : pos + ln]
            if marker == 0xDB:  # DQT
                s = 0
                while s < len(seg):
                    pq, tq = seg[s] >> 4, seg[s] & 0xF
                    if pq != 0:
                        return None
                    qt[tq] = np.frombuffer(
                        seg[s + 1 : s + 65], np.uint8
                    ).astype(np.float64)
                    s += 65
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                progressive = marker == 0xC2
                prec, h, w, nf = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
                if prec != 8 or nf not in (1, 3):
                    return None
                comps = []
                for ci in range(nf):
                    cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                    hi, vi = hv >> 4, hv & 0xF
                    if not (1 <= hi <= 4 and 1 <= vi <= 4):
                        return None
                    comps.append((cid, hi, vi, tq))
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
                return None  # non-baseline/progressive frame
            elif marker == 0xC4:  # DHT
                s = 0
                while s < len(seg):
                    tc, th = seg[s] >> 4, seg[s] & 0xF
                    bits = list(seg[s + 1 : s + 17])
                    nv = sum(bits)
                    vals = list(seg[s + 17 : s + 17 + nv])
                    (huff_dc if tc == 0 else huff_ac)[th] = build_huff(bits, vals)
                    s += 17 + nv
            elif marker == 0xDD:  # DRI
                ri = struct.unpack(">H", seg[0:2])[0]
            elif marker == 0xDA:  # SOS
                ns = seg[0]
                if ns not in (1, 3):
                    return None
                sel = []
                for ci in range(ns):
                    cs, tdta = seg[1 + 2 * ci], seg[2 + 2 * ci]
                    sel.append((cs, tdta >> 4, tdta & 0xF))
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                # entropy data follows until the next marker; RSTn
                # markers (F.2.1.3) split it into restart segments
                segs = [bytearray()]
                p = pos + ln
                while p < len(b) - 1:
                    if b[p] == 0xFF:
                        nxt = b[p + 1]
                        if nxt == 0x00:
                            segs[-1].append(0xFF)
                            p += 2
                            continue
                        if 0xD0 <= nxt <= 0xD7:  # RSTm boundary
                            segs.append(bytearray())
                            p += 2
                            continue
                        break  # a real marker ends the scan
                    segs[-1].append(b[p])
                    p += 1
                if len(segs) > 1 and ri == 0:
                    return None  # RST without a declared interval
                seg_bytes = [bytes(s) for s in segs]
                if progressive:
                    # snapshot table objects (later DHT segments may
                    # redefine ids for later scans) AND the restart
                    # interval in force at this SOS
                    snap = [
                        (cs, huff_dc.get(td), huff_ac.get(ta))
                        for cs, td, ta in sel
                    ]
                    scans.append(
                        (seg_bytes, snap, ss, se, ahal >> 4, ahal & 0xF, ri)
                    )
                else:
                    scan = (seg_bytes, sel, ri)
                pos = p
                continue
            pos += ln
        if progressive:
            if w is None or comps is None or not scans:
                return None
            hmax = max(hi for _, hi, _, _ in comps)
            vmax = max(vi for _, _, vi, _ in comps)
            mx_n = (w + 8 * hmax - 1) // (8 * hmax)
            my_n = (h + 8 * vmax - 1) // (8 * vmax)
            # per-component coefficient grids (zigzag order, ints),
            # MCU-padded — a superset of the ceil grid that
            # non-interleaved scans walk
            grids: dict[int, np.ndarray] = {}
            cdims: dict[int, tuple[int, int, int, int]] = {}
            for cid, hi, vi, tq in comps:
                if hmax % hi or vmax % vi:
                    return None  # replication needs integral ratios
                cw = (w * hi + hmax - 1) // hmax
                ch = (h * vi + vmax - 1) // vmax
                cdims[cid] = (cw, ch, (cw + 7) // 8, (ch + 7) // 8)
                grids[cid] = np.zeros((my_n * vi, mx_n * hi, 64), np.int64)
            comp_of = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}

            def refine_nz(zz, k, rd, p1, m1):
                # T.81 G.1.2.3: correction bit for a coefficient
                # that is already nonzero at this approximation
                if rd.read_bit():
                    if (int(zz[k]) & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1

            for segs, snap, ss, se, ah, al, sri in scans:
                seg_i = 0
                rd = BitReader(segs[0])
                if ss == 0:  # DC scan (first or refinement)
                    if se != 0:
                        return None
                    preds = [0] * len(snap)
                    # order entries carry their MCU ordinal so RSTn
                    # boundaries (every sri MCUs: new byte-aligned
                    # segment, predictors reset) land exactly
                    if len(snap) > 1:  # interleaved MCU walk
                        order = []
                        for my in range(my_n):
                            for mx in range(mx_n):
                                mcu = my * mx_n + mx
                                for si, (cs, _, _) in enumerate(snap):
                                    hi, vi, _ = comp_of[cs]
                                    for vb in range(vi):
                                        for hb in range(hi):
                                            order.append(
                                                (mcu, si, cs, my * vi + vb, mx * hi + hb)
                                            )
                    else:  # single-component: raster; MCU = block
                        cs0 = snap[0][0]
                        _, _, bw_, bh_ = cdims[cs0]
                        order = [
                            (by * bw_ + bx, 0, cs0, by, bx)
                            for by in range(bh_)
                            for bx in range(bw_)
                        ]
                    prev_mcu = 0
                    for mcu, si, cs, by, bx in order:
                        if sri and mcu != prev_mcu and mcu % sri == 0:
                            seg_i += 1
                            if seg_i >= len(segs):
                                return None
                            rd = BitReader(segs[seg_i])
                            preds = [0] * len(snap)
                        prev_mcu = mcu
                        zz = grids[cs][by, bx]
                        if ah == 0:  # first: diffs of DC >> Al
                            dc_t = snap[si][1]
                            if dc_t is None:
                                return None
                            size = rd.read_symbol(dc_t)
                            preds[si] += extend(rd.read_bits(size), size)
                            zz[0] = preds[si] << al
                        else:  # refinement: one bit per block
                            if rd.read_bit():
                                zz[0] = int(zz[0]) | (1 << al)
                else:  # AC scan: always single-component (G.1.1)
                    if len(snap) != 1:
                        return None
                    cs0, _, ac_t = snap[0]
                    if ac_t is None:
                        return None
                    _, _, bw_, bh_ = cdims[cs0]
                    p1, m1 = 1 << al, (-1) << al
                    eobrun = 0
                    bi = 0
                    for by in range(bh_):
                        for bx in range(bw_):
                            if sri and bi and bi % sri == 0:
                                if eobrun:
                                    return None  # EOB run across RST
                                seg_i += 1
                                if seg_i >= len(segs):
                                    return None
                                rd = BitReader(segs[seg_i])
                            bi += 1
                            zz = grids[cs0][by, bx]
                            if ah == 0:  # band-first scan
                                if eobrun > 0:
                                    eobrun -= 1
                                    continue
                                k = ss
                                while k <= se:
                                    rs = rd.read_symbol(ac_t)
                                    r, s = rs >> 4, rs & 0xF
                                    if s == 0:
                                        if r == 15:  # ZRL
                                            k += 16
                                            continue
                                        eobrun = (
                                            (1 << r)
                                            + (rd.read_bits(r) if r else 0)
                                            - 1
                                        )
                                        break
                                    k += r
                                    if k > se:
                                        return None
                                    zz[k] = extend(rd.read_bits(s), s) << al
                                    k += 1
                            else:  # refinement scan
                                k = ss
                                if eobrun == 0:
                                    while k <= se:
                                        rs = rd.read_symbol(ac_t)
                                        r, s = rs >> 4, rs & 0xF
                                        if s == 0:
                                            if r < 15:  # EOBn
                                                eobrun = (1 << r) + (
                                                    rd.read_bits(r) if r else 0
                                                )
                                                break
                                            val = 0  # ZRL
                                        elif s == 1:
                                            val = p1 if rd.read_bit() else m1
                                        else:
                                            return None
                                        # skip r zero-history coeffs,
                                        # correcting nonzero-history
                                        # ones passed over
                                        while k <= se:
                                            if zz[k] != 0:
                                                refine_nz(zz, k, rd, p1, m1)
                                            else:
                                                if r == 0:
                                                    break
                                                r -= 1
                                            k += 1
                                        if val and k <= se:
                                            zz[k] = val
                                        k += 1
                                if eobrun > 0:
                                    # EOB run covers the rest of
                                    # this block: corrections only
                                    while k <= se:
                                        if zz[k] != 0:
                                            refine_nz(zz, k, rd, p1, m1)
                                        k += 1
                                    eobrun -= 1
            # all scans applied: dequantize + IDCT + assemble
            full = []
            for cid, hi, vi, tq in comps:
                q = qt.get(tq)
                if q is None:
                    return None
                cw, ch, bw_, bh_ = cdims[cid]
                plane = np.zeros((bh_ * 8, bw_ * 8), np.float64)
                for by in range(bh_):
                    for bx in range(bw_):
                        zzq = grids[cid][by, bx].astype(np.float64) * q
                        coeff = np.zeros(64, np.float64)
                        coeff[ZIGZAG] = zzq
                        nz_ac = [int(i) for i in np.nonzero(coeff)[0] if i != 0]
                        if not nz_ac:
                            # DC-only shortcut (exact, as baseline)
                            blk = np.full((8, 8), coeff[0] / 8.0 + 128.0)
                        elif len(nz_ac) <= 4:
                            # sparse IDCT: per-coefficient scaled
                            # outer products accumulated
                            # element-wise in raster order — a
                            # DEFINED, FMA-free IEEE op sequence
                            # (the DC-only shortcut's determinism
                            # argument extended to few-coefficient
                            # blocks; the matmul below is BLAS-
                            # kernel-ordered and may fuse)
                            blk = np.full((8, 8), coeff[0] / 8.0)
                            for fi in nz_ac:
                                u, v = fi // 8, fi % 8
                                blk = blk + coeff[fi] * np.multiply.outer(
                                    DCT8_BASIS[u], DCT8_BASIS[v]
                                )
                            blk = blk + 128.0
                        else:
                            blk = DCT8_BASIS.T @ coeff.reshape(8, 8) @ DCT8_BASIS + 128.0
                        plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
                up = np.repeat(
                    np.repeat(plane[:ch, :cw], vmax // vi, axis=0),
                    hmax // hi,
                    axis=1,
                )
                full.append(up[:h, :w])
            if len(comps) == 1:
                px = np.clip(np.rint(full[0]), 0, 255)[:, :, None]
                return px, 1
            y = full[0]
            cb = full[1] - 128.0
            cr = full[2] - 128.0
            rgb = np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ],
                axis=-1,
            )
            return np.clip(np.rint(rgb), 0, 255), 3
        if w is None or comps is None or scan is None:
            return None
        segs, sel, sri = scan
        if len(sel) != len(comps):
            return None
        samp_of = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
        hmax = max(hi for _, hi, _, _ in comps)
        vmax = max(vi for _, _, vi, _ in comps)
        parts = []
        for cs, td, ta in sel:
            if cs not in samp_of:
                return None
            hi, vi, tq = samp_of[cs]
            # replication upsampling needs integral ratios
            if hmax % hi or vmax % vi:
                return None
            q = qt.get(tq)
            dc_t, ac_t = huff_dc.get(td), huff_ac.get(ta)
            if q is None or dc_t is None or ac_t is None:
                return None
            parts.append((q, dc_t, ac_t, hi, vi))
        # MCU grid covers the frame at (8·hmax)×(8·vmax) pixels per
        # MCU; component ci contributes hi×vi blocks per MCU
        mx_n = (w + 8 * hmax - 1) // (8 * hmax)
        my_n = (h + 8 * vmax - 1) // (8 * vmax)
        planes = [
            np.zeros((my_n * vi * 8, mx_n * hi * 8), np.float64)
            for (_, _, _, hi, vi) in parts
        ]
        seg_i = 0
        rd = BitReader(segs[0])
        preds = [0] * len(parts)
        for my in range(my_n):
            for mx in range(mx_n):
                mcu = my * mx_n + mx
                if sri and mcu and mcu % sri == 0:
                    # RSTn boundary: byte-aligned fresh segment,
                    # DC predictors reset (F.2.1.3.1)
                    seg_i += 1
                    if seg_i >= len(segs):
                        return None
                    rd = BitReader(segs[seg_i])
                    preds = [0] * len(parts)
                for ci, (q, dc_t, ac_t, hi, vi) in enumerate(parts):
                    for vb in range(vi):
                        for hb in range(hi):
                            zz = np.zeros(64, np.float64)
                            size = rd.read_symbol(dc_t)
                            diff = extend(rd.read_bits(size), size)
                            preds[ci] += diff
                            zz[0] = preds[ci]
                            ki = 1
                            while ki < 64:
                                rs = rd.read_symbol(ac_t)
                                r, s = rs >> 4, rs & 0xF
                                if rs == 0x00:  # EOB
                                    break
                                if rs == 0xF0:  # ZRL
                                    ki += 16
                                    continue
                                ki += r
                                if ki > 63:
                                    return None
                                zz[ki] = extend(rd.read_bits(s), s)
                                ki += 1
                            coeff = np.zeros(64, np.float64)
                            coeff[ZIGZAG] = zz * q
                            if ki == 1:
                                # DC-only shortcut (libjpeg's 1×1
                                # IDCT): constant dc/8 — exact,
                                # where the generic basis product
                                # carries a ±ulp error
                                blk = np.full(
                                    (8, 8), coeff[0] / 8.0 + 128.0
                                )
                            else:
                                blk = DCT8_BASIS.T @ coeff.reshape(8, 8) @ DCT8_BASIS + 128.0
                            py = (my * vi + vb) * 8
                            px_ = (mx * hi + hb) * 8
                            planes[ci][py : py + 8, px_ : px_ + 8] = blk
        # crop each plane to its component resolution, then
        # replicate up to full frame resolution (JFIF nearest)
        full = []
        for (q, dc_t, ac_t, hi, vi), plane in zip(parts, planes):
            cw = (w * hi + hmax - 1) // hmax
            ch = (h * vi + vmax - 1) // vmax
            up = np.repeat(
                np.repeat(plane[:ch, :cw], vmax // vi, axis=0),
                hmax // hi,
                axis=1,
            )
            full.append(up[:h, :w])
        if len(parts) == 1:
            px = np.clip(np.rint(full[0]), 0, 255)[:, :, None]
            return px, 1
        # JFIF BT.601 full-range YCbCr → RGB
        y = full[0]
        cb = full[1] - 128.0
        cr = full[2] - 128.0
        rgb = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=-1,
        )
        return np.clip(np.rint(rgb), 0, 255), 3
    except Exception:
        return None


def gif_lzw_decode(data: bytes, mcs: int, npx: int):
    """GIF-variant LZW: LSB-first codes, width grows when the table
    reaches 2^width (see tiff_lzw_decode for why the two stay apart)."""
    clear = 1 << mcs
    eoi = clear + 1
    width = mcs + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    out: list[int] = []
    prev = None
    bitpos = 0
    total = len(data) * 8
    while len(out) < npx:
        if bitpos + width > total:
            return None
        v = 0
        for i in range(width):  # LSB-first bit packing (GIF app. F)
            v |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        if v == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = mcs + 1
            prev = None
            continue
        if v == eoi:
            break
        if prev is None:
            if v >= len(table):
                return None
            entry = table[v]
        else:
            if v < len(table):
                entry = table[v]
            elif v == len(table):  # KwKwK: code defined by this use
                entry = prev + (prev[0],)
            else:
                return None
            if len(table) < 4096:
                table.append(prev + (entry[0],))
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out.extend(entry)
        prev = entry
    return out[:npx] if len(out) >= npx else None


def decode_gif(b: bytes):
    """Stdlib+numpy GIF (87a/89a) decode → ``(px, 3) | None``, ``px`` of
    shape (h, w, 3) palette-mapped RGB, float64 in 0..255.

    Scope: the still-image decode contract — the FIRST image of the
    stream (animated GIFs decode their first frame), global or local
    color table, full variable-width LZW (LSB-first bit packing,
    clear/EOI codes, table growth to the 12-bit cap, the KwKwK
    next-code case), four-pass row interlacing, and extension-block
    skipping.  Out of scope (sub-frame placement compositing across
    frames, transparency) returns the first frame's palette pixels —
    transparency is a render concern, not a pixel-stats one.  Anything
    malformed (truncated LZW, out-of-range code or palette index, bad
    signature) returns None → NULL features, per-row error isolation.
    """
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    try:
        w, h, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = np.frombuffer(b[pos : pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        while pos < len(b):
            blk = b[pos]
            pos += 1
            if blk == 0x3B:  # trailer before any image
                return None
            if blk == 0x21:  # extension: label + sub-blocks
                pos += 1
                while b[pos]:
                    pos += 1 + b[pos]
                pos += 1
                continue
            if blk != 0x2C:  # image descriptor
                return None
            fl, ft, iw, ih, iflags = struct.unpack("<HHHHB", b[pos : pos + 9])
            pos += 9
            pal = gct
            if iflags & 0x80:  # local color table wins
                n = 2 << (iflags & 7)
                pal = np.frombuffer(b[pos : pos + 3 * n], np.uint8).reshape(n, 3)
                pos += 3 * n
            if pal is None or iw == 0 or ih == 0:
                return None
            # partial-canvas first frame: standard decoders report
            # CANVAS dims and composite onto a background this
            # decoder does not model — returning dims/pixels that
            # disagree with them would be silently wrong, so such
            # files take the drop-don't-raise path instead.
            if (fl, ft, iw, ih) != (0, 0, w, h):
                return None
            mcs = b[pos]
            pos += 1
            if not (2 <= mcs <= 11):
                return None
            data = bytearray()
            while b[pos]:
                ln = b[pos]
                data += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx_flat = gif_lzw_decode(bytes(data), mcs, iw * ih)
            if idx_flat is None:
                return None
            idx = np.array(idx_flat, np.int64).reshape(ih, iw)
            if int(idx.max(initial=0)) >= len(pal):
                return None
            if iflags & 0x40:  # 4-pass row interlace (app. E)
                rows = []
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                    rows.extend(range(start, ih, step))
                out = np.zeros((ih, iw), np.int64)
                out[rows] = idx
                idx = out
            return pal[idx].astype(np.float64), 3
        return None
    except Exception:
        return None


def decode_bmp(b: bytes):
    """Stdlib+numpy BMP decode → ``(px, nch) | None``.

    Scope: BITMAPINFOHEADER (40-byte DIB), uncompressed BI_RGB, 8-bit
    palette / 24-bit BGR / 32-bit BGRX, bottom-up (positive height)
    and top-down (negative height) row order, 4-byte row padding.
    Out of scope (BI_RLE*, bitfields, OS/2 headers, 1/4-bit) returns
    None → NULL features, per-row error isolation.

    ``px`` has shape (h, w, 3) RGB float64 in 0..255 (palette and BGR
    orders normalized), ``nch`` = 1 for palette images (declared),
    else 3.
    """
    if len(b) < 54 or b[:2] != b"BM":
        return None
    try:
        data_off = struct.unpack("<I", b[10:14])[0]
        hdr_size = struct.unpack("<I", b[14:18])[0]
        if hdr_size != 40:  # BITMAPINFOHEADER only
            return None
        w, h_raw = struct.unpack("<ii", b[18:26])
        planes, bpp = struct.unpack("<HH", b[26:30])
        compression, _isz = struct.unpack("<II", b[30:38])
        colors_used = struct.unpack("<I", b[46:50])[0]
        if planes != 1 or compression != 0 or bpp not in (8, 24, 32):
            return None
        top_down = h_raw < 0
        h = -h_raw if top_down else h_raw
        if w <= 0 or h <= 0:
            return None
        pal = None
        if bpp == 8:
            n = colors_used or 256
            pal_at = 14 + hdr_size
            raw_pal = b[pal_at : pal_at + 4 * n]
            if len(raw_pal) < 4 * n:
                return None
            # BGRA quads → RGB
            pal = np.frombuffer(raw_pal, np.uint8).reshape(n, 4)[:, 2::-1]
        stride = ((w * bpp // 8) + 3) & ~3
        need = stride * h
        rows = b[data_off : data_off + need]
        if len(rows) < need:
            return None
        arr = np.frombuffer(rows, np.uint8).reshape(h, stride)
        if not top_down:
            arr = arr[::-1]  # bottom-up storage → raster order
        if bpp == 8:
            idx = arr[:, :w].astype(np.int64)
            if int(idx.max(initial=0)) >= len(pal):
                return None
            return pal[idx].astype(np.float64), 1
        step = bpp // 8
        px = arr[:, : w * step].reshape(h, w, step)
        # BGR(X) → RGB
        return px[:, :, 2::-1].astype(np.float64), 3
    except Exception:
        return None


def tiff_lzw_decode(data: bytes, max_out: int):
    """TIFF-variant LZW: MSB-first codes, early width change
    (grow when the table reaches 2^width − 1, one code earlier
    than :func:`gif_lzw_decode`).  The two decoders also differ in
    the table cap (GIF stops adding at 4096 entries), the leading
    ClearCode (mandatory here) and a short stream (GIF returns None,
    TIFF the bytes decoded so far): one shared primitive would branch
    on its caller at all five points, so each format keeps its own."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    nbits = len(data) * 8
    bitpos = 0
    width = 9
    table: list[bytes] = []
    prev = b""
    while bitpos + width <= nbits and len(out) < max_out:
        code = 0
        for _ in range(width):
            code = (code << 1) | ((data[bitpos >> 3] >> (7 - (bitpos & 7))) & 1)
            bitpos += 1
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = b""
            continue
        if code == EOI:
            break
        if not table:
            return None  # stream must open with ClearCode
        if code < len(table):
            entry = table[code]
            if prev:
                table.append(prev + entry[:1])
        elif code == len(table) and prev:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        out += entry
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out[:max_out])


def decode_tiff(b: bytes):
    """Stdlib+numpy TIFF 6.0 baseline decode → ``(px, nch) | None``.

    Scope: both byte orders (II little / MM big — TIFF is the one
    interchange format where endianness is data, not platform), the
    first IFD's tag walk (BYTE/SHORT/LONG values, inline when ≤4
    bytes else offset-addressed), strip-based layout (any
    RowsPerStrip), 8-bit grayscale (PhotometricInterpretation 0
    WhiteIsZero and 1 BlackIsZero) and 8-bit-per-sample RGB,
    Compression 1 (none), 5 (LZW — the variant most real scanned
    TIFFs use: MSB-first bit packing, ClearCode 256 / EOI 257,
    9→12-bit codes with the spec's EARLY code-width change, one code
    before the GIF rule; per-strip independent streams), 8 Deflate
    (Adobe zlib streams per strip — the PNG path's stdlib inflate;
    the legacy pre-standard code 32946 is the same bytestream and
    accepted too) — LZW and Deflate plain or under Predictor 2
    (horizontal differencing, the default pairing of common TIFF
    writers: each row stores per-channel deltas, undone here by a
    per-row cumulative sum mod 256) — and 32773
    (PackBits: literal runs n<128, replicate runs n>128, 128 =
    no-op).  Out of scope (JPEG-in-TIFF, tiles, planar config 2,
    palette TIFF, 1/4/16-bit, float Predictor 3) returns
    None → NULL features, per-row error isolation.

    ``px`` has shape (h, w, nch) float64 in 0..255 (WhiteIsZero
    inverted to the BlackIsZero scale so luma means compare across
    photometrics).
    """
    if len(b) < 8:
        return None
    if b[:2] == b"II":
        e = "<"
    elif b[:2] == b"MM":
        e = ">"
    else:
        return None

    def rd(fmt, off, n=1):
        sz = struct.calcsize(e + fmt * n)
        if off + sz > len(b):
            raise ValueError("truncated")
        return struct.unpack(e + fmt * n, b[off : off + sz])

    try:
        magic, ifd_off = rd("H", 2)[0], rd("I", 4)[0]
        if magic != 42:
            return None
        (n_tags,) = rd("H", ifd_off)
        tags = {}
        for i in range(n_tags):
            toff = ifd_off + 2 + 12 * i
            tag, typ, cnt = rd("H", toff)[0], rd("H", toff + 2)[0], rd("I", toff + 4)[0]
            if typ not in (1, 3, 4):
                continue  # RATIONAL/ASCII tags are irrelevant here
            fmt, unit = {1: ("B", 1), 3: ("H", 2), 4: ("I", 4)}[typ]
            if unit * cnt <= 4:
                tags[tag] = rd(fmt, toff + 8, cnt)
            else:
                tags[tag] = rd(fmt, rd("I", toff + 8)[0], cnt)
        w = tags.get(256, (0,))[0]
        h = tags.get(257, (0,))[0]
        if w <= 0 or h <= 0 or w * h > 1 << 22:
            return None
        spp = tags.get(277, (1,))[0]
        bits = tags.get(258, (8,) * spp)
        comp = tags.get(259, (1,))[0]
        photo = tags.get(262, (1,))[0]
        offs = tags.get(273)
        byte_counts = tags.get(279)
        rps = tags.get(278, (h,))[0] or h
        if offs is None or byte_counts is None or len(offs) != len(byte_counts):
            return None
        if spp not in (1, 3) or any(x != 8 for x in bits[:spp]):
            return None
        if comp not in (1, 5, 8, 32946, 32773):
            return None
        # Predictor (317): 1 = none, 2 = horizontal differencing
        # (only meaningful — and only accepted — under LZW or
        # Deflate, the pairings real writers emit); 3 (float)
        # stays out of scope
        pred = tags.get(317, (1,))[0]
        if pred not in (1, 2) or (pred == 2 and comp not in (5, 8, 32946)):
            return None
        if (spp == 1 and photo not in (0, 1)) or (spp == 3 and photo != 2):
            return None
        # PlanarConfiguration (284) defaults to 1 (chunky); planar
        # (2) stores per-channel planes — silently misdecoded as
        # interleaved if not rejected here
        if tags.get(284, (1,))[0] != 1:
            return None
        expected = [
            min(rps, h - y0) * w * spp for y0 in range(0, h, rps)
        ]
        if len(offs) != len(expected):
            return None
        raw = bytearray()
        for (off, bc), need_rows in zip(zip(offs, byte_counts), expected):
            if off + bc > len(b):
                return None
            chunk = b[off : off + bc]
            if comp == 5:
                dec = tiff_lzw_decode(chunk, need_rows)
                if dec is None:
                    return None
                chunk = dec
            elif comp in (8, 32946):
                # Deflate: one whole zlib stream per strip; a
                # corrupt stream isolates to this row (None), it
                # never raises past the codec seam
                try:
                    chunk = zlib.decompress(chunk)
                except zlib.error:
                    return None
            elif comp == 32773:
                out = bytearray()
                i = 0
                while i < len(chunk):
                    n = chunk[i]
                    i += 1
                    if n < 128:
                        if i + n + 1 > len(chunk):
                            return None
                        out += chunk[i : i + n + 1]
                        i += n + 1
                    elif n > 128:
                        if i >= len(chunk):
                            return None
                        out += bytes([chunk[i]]) * (257 - n)
                        i += 1
                    # n == 128: per spec, a no-op
                chunk = bytes(out)
            if len(chunk) < need_rows:
                return None
            raw += chunk[:need_rows]
        arr = np.frombuffer(bytes(raw), np.uint8).reshape(h, w, spp)
        if pred == 2:
            # undo horizontal differencing: rows never cross strip
            # boundaries, so one whole-image per-row cumsum (mod
            # 256, per channel) restores the samples exactly
            arr = (np.cumsum(arr.astype(np.int64), axis=1) & 0xFF).astype(np.uint8)
        px = arr.astype(np.float64)
        if spp == 1 and photo == 0:  # WhiteIsZero → invert
            px = 255.0 - px
        return px, spp
    except (ValueError, struct.error, IndexError):
        return None


def luma(px):
    """BT.601 luma of an (h, w, c) pixel array; channel 0 when c < 3."""
    if px.shape[-1] >= 3:
        return 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    return px[..., 0]


def decode_image(b: bytes):
    """Dispatch an image payload on its magic bytes → ``(px, nch) | None``:
    JPEG (``FF D8``), GIF (``GIF8``), BMP (``BM``), TIFF (``II*\\0`` /
    ``MM\\0*``), anything else to the PNG decoder."""
    if len(b) >= 2 and b[0] == 0xFF and b[1] == 0xD8:
        return decode_jpeg(b)
    if len(b) >= 4 and b[:4] == b"GIF8":
        return decode_gif(b)
    if len(b) >= 2 and b[:2] == b"BM":
        return decode_bmp(b)
    if len(b) >= 4 and b[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(b)
    return decode_png(b)


def _map_payloads(
    df: DataFrame,
    schema: str,
    per_payload,
    keep: tuple[str, ...],
    dtypes: dict[str, str | None],
) -> DataFrame:
    """The Arrow seam of the per-payload operators: one ``mapInPandas``
    pass that calls ``per_payload(bytes | None) -> tuple | None`` on
    every ``payload`` (bytes columns arrive as Arrow buffers, one record
    batch at a time) and builds the output frame in ``schema``'s order:
    the ``keep`` columns passed through, then one column per ``dtypes``
    entry from the tuple's fields in order, as a nullable pandas array
    of that dtype (``None``: a plain object column).  A ``None`` result
    is a row of NULLs — per-row error isolation, never a failed job.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [per_payload(None if b is None else bytes(b)) for b in pdf["payload"]]
            out = {c: pdf[c] for c in keep}
            for i, (name, dtype) in enumerate(dtypes.items()):
                col = [None if r is None else r[i] for r in rows]
                out[name] = col if dtype is None else pd.array(col, dtype=dtype)
            yield pd.DataFrame(out)

    return df.mapInPandas(op, schema=schema)


def decode_image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """image payload → (width, height, n_channels, mean_luma).

    Runs on the :func:`_map_payloads` Arrow seam, so the decoder
    streams batch-by-batch without materializing a partition.

    Decoders:
    * ``fake=False`` (default): REAL stdlib-only codecs, dispatched on
      the payload magic by :func:`decode_image` — PNG (chunk parse,
      zlib inflate, scanline unfiltering, all five filter types,
      depths 1/2/4/8/16, gray / gray+alpha / RGB / RGBA / palette,
      Adam7 interlacing), JPEG (baseline SOF0 and progressive SOF2,
      grayscale and subsampled YCbCr color, restart markers), GIF
      (variable-width LZW, global/local palettes, row interlacing),
      BMP (uncompressed 8/24/32-bit) and TIFF (strips, none / LZW /
      Deflate / PackBits, Predictor 2).  Luma from the usual BT.601
      weights.  Payloads that are not decodable (other formats,
      illegal layouts, truncated bytes) yield NULL features rather
      than failing the job — per-row error isolation, the multimodal
      twin of the cleaner's drop-don't-raise contract.
    * ``fake=True``: the deterministic sha-derived stand-in (used by
      the DuckDB value-level oracle, which can recompute sha bytes but
      not run an image codec).
    """

    def features(b):
        if fake:
            h = hashlib.sha256(b or b"").digest()
            return 16 + h[0] % 64, 16 + h[1] % 64, 1 + h[2] % 4, h[3] / 255.0
        dec = decode_image(b) if b is not None else None
        if dec is None:
            return None
        px, nch = dec
        return int(px.shape[1]), int(px.shape[0]), int(nch), float(luma(px).mean() / 255.0)

    return _map_payloads(
        df, IMAGE_FEATURES_SCHEMA, features, ("media_id", "kind"),
        {"width": "Int32", "height": "Int32", "n_channels": "Int32", "mean_luma": "Float64"},
    )


RESIZED_FEATURES_SCHEMA = (
    "media_id bigint, kind string, src_width int, src_height int, "
    "out_width int, out_height int, mean_luma double"
)


def decode_image_resized(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """image payload → nearest-neighbor resize to (out_w, out_h) →
    (src dims, out dims, mean luma of the RESIZED image).

    The resample rule is stated exactly so external engines can
    reproduce it: output pixel (i, j) takes source pixel
    (floor(i·src_h/out_h), floor(j·src_w/out_w)) — plain index
    selection, no interpolation arithmetic, so results are bit-exact.
    Runs on the same :func:`_map_payloads` seam and per-row error
    isolation as decode_image_features (non-PNG payloads → NULL source
    dims and luma; the out dims are always set).
    """

    def resize_features(b):
        dec = decode_png(b) if b is not None else None
        if dec is None:
            return None, None, out_w, out_h, None
        px, _ = dec
        h, w = px.shape[0], px.shape[1]
        rows = (np.arange(out_h) * h) // out_h
        cols = (np.arange(out_w) * w) // out_w
        resized = px[rows][:, cols]
        return int(w), int(h), out_w, out_h, float(luma(resized).mean() / 255.0)

    return _map_payloads(
        df, RESIZED_FEATURES_SCHEMA, resize_features, ("media_id", "kind"),
        {"src_width": "Int32", "src_height": "Int32", "out_width": "Int32",
         "out_height": "Int32", "mean_luma": "Float64"},
    )


def sample_frames(
    df: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """'Video' payload → one row per sampled frame offset.

    Frame sampling without decoding: pure built-in expressions generate
    the offset lattice (sequence + explode) — the cheap planning step
    that decides WHICH frames to touch before any byte is decoded.
    The real decode downstream of this plan is
    :func:`decode_video_frames` (RIFF/AVI walk → per-frame JPEG).
    """
    n = F.coalesce(F.length("payload"), F.lit(0))
    offsets = F.slice(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n_bytes)),
        1,
        max_frames,
    )
    return df.select(
        "media_id",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


VIDEO_FRAME_FEATURES_SCHEMA = (
    "media_id bigint, kind string, frame_idx int, width int, height int, "
    "n_channels int, mean_luma double"
)


def decode_video_frames(df: DataFrame, max_frames: int = 16) -> DataFrame:
    """MJPEG-in-AVI payload → one row per DECODED frame:
    (media_id, kind, frame_idx, width, height, n_channels, mean_luma).

    The real-decode upgrade of :func:`sample_frames`' offset lattice:
    a from-scratch RIFF/AVI container walk (``RIFF…AVI ``, nested
    ``LIST`` chunks, word-aligned sizes) locates the ``movi`` list and
    treats every ``##dc``/``##db`` stream chunk as one video frame,
    feeding its bytes to the full JPEG decoder the image path uses
    (baseline + progressive, gray + subsampled color —
    :func:`decode_jpeg`).  Up to ``max_frames`` frames per
    payload.

    Error isolation is two-level, mirroring the image contract:
    a payload that is not a RIFF/AVI container produces ZERO rows
    (there is nothing frame-shaped to report), while a malformed
    INDIVIDUAL frame inside a valid container produces its row with
    NULL width/height/channels/luma — so one corrupt frame never hides
    its siblings.

    Scale shape: mapInPandas over Arrow batches — embarrassingly
    parallel per payload, no shuffle; at 100 TB the natural refinement
    is splitting multi-GB containers into byte-range chunks at movi
    boundaries upstream, which this chunk walk supports since frame
    chunks are self-delimiting.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def avi_frames(b: bytes):
            """yield raw frame payloads from the movi list, or None if
            the container itself is malformed."""
            if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
                return None
            out = []
            pos = 12
            end = min(8 + int.from_bytes(b[4:8], "little"), len(b))
            while pos + 8 <= end:
                cid = b[pos : pos + 4]
                sz = int.from_bytes(b[pos + 4 : pos + 8], "little")
                if pos + 8 + sz > end:
                    break
                if cid == b"LIST" and b[pos + 8 : pos + 12] == b"movi":
                    mpos = pos + 12
                    mend = pos + 8 + sz
                    while mpos + 8 <= mend:
                        fid = b[mpos : mpos + 4]
                        fsz = int.from_bytes(b[mpos + 4 : mpos + 8], "little")
                        if mpos + 8 + fsz > mend:
                            break
                        if fid[2:4] in (b"dc", b"db"):
                            out.append(b[mpos + 8 : mpos + 8 + fsz])
                        mpos += 8 + fsz + (fsz & 1)
                pos += 8 + sz + (sz & 1)
            return out

        for pdf in batches:
            ids, kinds, fidx, ws, hs, chs, lms = [], [], [], [], [], [], []
            for mid, kind, b in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                frames = avi_frames(bytes(b)) if b is not None else None
                if frames is None:
                    continue
                for i, fb in enumerate(frames[:max_frames]):
                    dec = decode_jpeg(fb)
                    ids.append(mid)
                    kinds.append(kind)
                    fidx.append(i)
                    if dec is None:
                        ws.append(None), hs.append(None)
                        chs.append(None), lms.append(None)
                    else:
                        px, nch = dec
                        ws.append(px.shape[1]), hs.append(px.shape[0])
                        chs.append(int(nch))
                        lms.append(float(luma(px).mean() / 255.0))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "kind": kinds,
                    "frame_idx": pd.array(fidx, dtype="Int32"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "n_channels": pd.array(chs, dtype="Int32"),
                    "mean_luma": pd.array(lms, dtype="Float64"),
                }
            )

    return df.mapInPandas(op, schema=VIDEO_FRAME_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id bigint, kind string, sample_rate int, n_samples bigint, "
    "duration_s double, rms double"
)


#: IMA-ADPCM step-size table (IMA ADPCM reference algorithm / RFC 3551
#: DVI4 — 89 entries) and the 3-bit index-adjustment table.
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def ima_decode_block(body: bytes) -> list[int]:
    """One IMA-ADPCM block → its 16-bit samples: the predictor /
    step-index header, then two 4-bit nibbles per byte (low first)."""
    pred, index = struct.unpack("<hB", body[:3])
    index = min(max(index, 0), 88)
    out = [pred]
    for byte in body[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            step = _IMA_STEPS[index]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = min(max(pred, -32768), 32767)
            index = min(max(index + _IMA_INDEX_ADJ[nib & 7], 0), 88)
            out.append(pred)
    return out


def decode_wav(b: bytes):
    """WAV decode → ``(rate, nch, samples) | None`` where ``samples``
    is the float64 interleaved stream normalized to [-1, 1] — the
    shared RIFF/WAVE walk behind the features, samples and spectrum
    operators.  Manual chunk walk (unknown chunks like ``fact``/``LIST``
    skipped, odd-sized chunks padded per RIFF), dispatching on the fmt
    tag: integer PCM 8-bit unsigned / 16-bit signed (tag 1), G.711
    µ-law (tag 7: complement, then the CCITT segment expansion
    ``((mant·8+0x84) << exp) − 0x84``), and IMA ADPCM (tag 0x11:
    :func:`ima_decode_block` per block, decoded mono).  µ-law/ADPCM
    amplitudes are on the 16-bit /32768 scale.
    """
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        sz = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if pos + 8 + sz > len(b):
            return None
        if cid == b"fmt ":
            fmt = b[pos + 8 : pos + 8 + sz]
        elif cid == b"data":
            data = b[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    tag, nch, rate, _brate, align, bits = struct.unpack("<HHIIHH", fmt[:16])
    if rate <= 0 or nch <= 0:
        return None
    if tag == 1 and bits == 16:
        arr = np.frombuffer(data[: len(data) & ~1], "<i2").astype(np.float64) / 32768.0
    elif tag == 1 and bits == 8:
        arr = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
    elif tag == 7 and bits == 8:  # G.711 µ-law
        u = ~np.frombuffer(data, np.uint8) & 0xFF
        mag = (((u & 0x0F).astype(np.int64) * 8 + 0x84) << ((u >> 4) & 7)) - 0x84
        arr = np.where(u & 0x80, -mag, mag).astype(np.float64) / 32768.0
    elif tag == 0x11 and nch == 1 and bits == 4 and align > 4:  # IMA ADPCM
        vals: list[int] = []
        for off in range(0, len(data) - align + 1, align):
            vals.extend(ima_decode_block(data[off : off + align]))
        arr = np.array(vals, dtype=np.float64) / 32768.0
    else:
        return None
    return int(rate), int(nch), arr


def decode_audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """audio payload → (sample_rate, n_samples, duration_s, rms).

    Same :func:`_map_payloads` Arrow seam as the image path.

    Decoders:
    * ``fake=False`` (default): REAL from-scratch WAV decode by
      :func:`decode_wav` — PCM 8/16-bit, G.711 µ-law and IMA ADPCM.
      Any channel count for PCM/µ-law (rms over all interleaved
      samples, amplitudes normalized to [-1, 1]; µ-law/ADPCM on the
      16-bit /32768 scale); ADPCM is decoded mono (the fixture and the
      common telephony layout).  Non-WAV / other-codec payloads yield
      NULL features (per-row error isolation, never a failed job).
    * ``fake=True``: the deterministic sha-derived stand-in backing the
      DuckDB value-level oracle.
    """

    def features(b):
        if fake:
            h = hashlib.sha256(b or b"").digest()
            rate = (8000, 16000, 44100, 48000)[h[0] % 4]
            n = 1000 + int.from_bytes(h[1:4], "big") % 100000
            return rate, n, n / rate, h[4] / 255.0
        dec = decode_wav(b) if b is not None else None
        if dec is None:
            return None
        rate, nch, arr = dec
        n = len(arr) // nch
        rms = float(np.sqrt(np.mean(arr * arr))) if arr.size else 0.0
        return int(rate), int(n), n / rate, rms

    return _map_payloads(
        df, AUDIO_FEATURES_SCHEMA, features, ("media_id", "kind"),
        {"sample_rate": "Int32", "n_samples": "Int64", "duration_s": "Float64", "rms": "Float64"},
    )


AUDIO_SAMPLES_SCHEMA = (
    "media_id bigint, kind string, sample_rate int, samples array<double>"
)


def decode_audio_samples(df: DataFrame, max_samples: int = 256) -> DataFrame:
    """audio payload → (sample_rate, samples array<double>): the first
    ``max_samples`` of the normalized interleaved stream, NULL for
    undecodable payloads (per-row error isolation).

    The decode step is the analysis seam: everything DOWNSTREAM of
    this operator (spectra, statistics, windows over samples) is plain
    relational algebra over (media_id, pos, sample) — JVM-side,
    codegen'd, shuffle-free until an aggregation asks for one.  The
    ``max_samples`` cap bounds the row width (a 10-minute 48 kHz file
    is ~29 M samples; analysis windows are not), mirroring how
    ``sample_frames`` bounds video work per row.  Shares the RIFF/PCM/
    µ-law/ADPCM walk with :func:`decode_audio_features` via
    :func:`decode_wav`.
    """

    def samples(b):
        dec = decode_wav(b) if b is not None else None
        if dec is None:
            return None
        return dec[0], [float(x) for x in dec[2][:max_samples]]

    return _map_payloads(
        df, AUDIO_SAMPLES_SCHEMA, samples, ("media_id", "kind"),
        {"sample_rate": "Int32", "samples": None},
    )


def _dft_twiddles(n_fft: int, bins: tuple[int, ...]) -> list[tuple[int, int, float, float]]:
    """(pos, k, cos, sin) rows of the DFT basis — Python-computed
    doubles, the SAME constants the oracle embeds as literals.  A
    repeated bin would silently DOUBLE that bin's sums through the
    join (one sample row matches two identical twiddle rows), so the
    assumption fails loudly instead."""
    import math

    if len(set(bins)) != len(bins):
        raise ValueError(f"duplicate DFT bins: {bins}")
    return [
        (pos, k, math.cos(2.0 * math.pi * k * pos / n_fft),
         math.sin(2.0 * math.pi * k * pos / n_fft))
        for k in bins
        for pos in range(n_fft)
    ]


def audio_power_spectrum(
    samples_df: DataFrame,
    n_fft: int = 16,
    bins: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Goertzel-style DFT power at selected frequency bins over the
    first ``n_fft`` decoded samples → (media_id, k, re_sum, im_sum,
    power) with ``power_k = (Σ xₙcos(2πkn/N))² + (Σ xₙsin(2πkn/N))²``.

    Entirely JVM-side: posexplode of the sample array, a broadcast
    join against the ``n_fft × |bins|``-row twiddle-factor table, and
    one per-(media, bin) aggregation — the frequency-domain feature
    extraction is plain relational algebra, no Python in the hot path
    (the only Python anywhere was the upstream decode seam).  At scale
    the plan is one shuffle keyed on (media_id, k), map-side
    combinable, linear in total samples.

    Exactness: each product ``x·cos`` is one IEEE rounding of
    Python-computed double constants; per-group sums quantize to the
    1e-9 grid and sum exactly (functions/numeric.py::qint) so results
    are bit-identical at any parallelism and reproducible in any
    engine that can state the same constants.  Media with fewer than
    ``n_fft`` samples are excluded (a partial window is a different
    statistic, not a smaller one).
    """
    from pyspark.sql import SparkSession

    from financial_data_stream_processing_engine_spark.functions.numeric import qint

    spark = SparkSession.getActiveSession() or samples_df.sparkSession
    tw = spark.createDataFrame(
        _dft_twiddles(n_fft, bins), "pos int, k int, cosv double, sinv double"
    )
    s = (
        samples_df.where(F.size("samples") >= n_fft)
        .select(
            "media_id",
            F.posexplode(F.slice("samples", 1, n_fft)).alias("pos", "x"),
        )
    )
    joined = s.join(F.broadcast(tw), ["pos"])
    grid = F.lit(1e-9)
    agg = joined.groupBy("media_id", "k").agg(
        (F.sum(qint(F.col("x") * F.col("cosv"))).cast("double") * grid).alias("re_sum"),
        (F.sum(qint(F.col("x") * F.col("sinv"))).cast("double") * grid).alias("im_sum"),
    )
    return agg.select(
        "media_id",
        "k",
        "re_sum",
        "im_sum",
        (F.col("re_sum") * F.col("re_sum") + F.col("im_sum") * F.col("im_sum")).alias(
            "power"
        ),
    )


def audio_stft(
    samples_df: DataFrame,
    n_fft: int = 16,
    hop: int = 8,
    bins: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Windowed short-time DFT power — the spectrogram
    generalization of :func:`audio_power_spectrum`: frame ``f`` covers
    samples ``[f·hop, f·hop + n_fft)`` (rectangular window; ``hop <
    n_fft`` overlaps frames, the standard STFT layout), and each
    frame's power at bin ``k`` is the same ``re² + im²`` statistic the
    whole-signal spectrum computes → one row per (media_id, frame_idx,
    k).  Time-frequency features (onset detection, per-window tone
    energy, silence trimming for audio curation) read straight off
    this relation.

    Plan shape: posexplode the sample array, expand each sample to the
    frames containing it (a ``sequence`` + ``explode`` — at most
    ``⌈n_fft/hop⌉`` frame rows per sample, a CONSTANT overlap factor,
    never a join), subtract the frame origin to get the within-frame
    position, broadcast-join the same ``n_fft × |bins|`` twiddle table
    (one table for ALL frames — the basis is frame-invariant), and one
    map-side-combinable aggregation keyed (media, frame, bin).  Still
    zero Python past the decode seam, still one shuffle, linear in
    total samples × overlap.

    Exactness: identical to the spectrum — products of stated double
    constants, per-group sums on the 1e-9 grid
    (functions/numeric.py::qint), bit-identical at any parallelism.
    Only COMPLETE frames are emitted (``n_frames = ⌊(n_samples −
    n_fft)/hop⌋ + 1``); media shorter than ``n_fft`` are excluded —
    the partial-window rule of the spectrum, per frame.
    """
    from pyspark.sql import SparkSession

    from financial_data_stream_processing_engine_spark.functions.numeric import qint

    if n_fft <= 0 or hop <= 0:
        # Spark's non-ANSI division would turn hop=0 into NULL frame
        # bounds and an EMPTY result — indistinguishable from "all
        # media too short"; the typo fails loudly instead (the
        # duplicate-bin rule in _dft_twiddles).
        raise ValueError(f"n_fft and hop must be positive, got {n_fft}, {hop}")
    spark = SparkSession.getActiveSession() or samples_df.sparkSession
    tw = spark.createDataFrame(
        _dft_twiddles(n_fft, bins), "fpos int, k int, cosv double, sinv double"
    )
    base = samples_df.where(F.size("samples") >= n_fft).select(
        "media_id",
        (F.floor((F.size("samples") - F.lit(n_fft)) / F.lit(hop)) + 1)
        .cast("int")
        .alias("n_frames"),
        F.posexplode("samples").alias("pos", "x"),
    )
    # frames containing sample pos: f·hop ≤ pos < f·hop + n_fft, f a
    # full frame — guard the empty range explicitly (Spark's
    # sequence(1, 0) DESCENDS instead of returning an empty array)
    f_lo = F.greatest(
        F.lit(0), F.ceil((F.col("pos") - F.lit(n_fft - 1)) / F.lit(hop)).cast("int")
    )
    f_hi = F.least(
        F.col("n_frames") - F.lit(1), F.floor(F.col("pos") / F.lit(hop)).cast("int")
    )
    frames = base.select(
        "media_id",
        "pos",
        "x",
        F.explode(
            F.when(f_lo <= f_hi, F.sequence(f_lo, f_hi)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("frame_idx"),
    ).withColumn("fpos", (F.col("pos") - F.col("frame_idx") * F.lit(hop)).cast("int"))
    joined = frames.join(F.broadcast(tw), ["fpos"])
    grid = F.lit(1e-9)
    agg = joined.groupBy("media_id", "frame_idx", "k").agg(
        (F.sum(qint(F.col("x") * F.col("cosv"))).cast("double") * grid).alias("re_sum"),
        (F.sum(qint(F.col("x") * F.col("sinv"))).cast("double") * grid).alias("im_sum"),
    )
    return agg.select(
        "media_id",
        "frame_idx",
        "k",
        "re_sum",
        "im_sum",
        (F.col("re_sum") * F.col("re_sum") + F.col("im_sum") * F.col("im_sum")).alias(
            "power"
        ),
    )


def mel_band_weights(
    n_fft: int = 16,
    sr: int = 8000,
    bins: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8),
    n_bands: int = 3,
    fmin: float = 0.0,
    fmax: float | None = None,
) -> list[tuple[int, int, float]]:
    """(k, band, weight) rows of a triangular mel filterbank over DFT
    bins — HTK mel scale ``m(f) = 2595·log10(1 + f/700)``, ``n_bands``
    triangles with apexes equally spaced in mel between ``fmin`` and
    ``fmax`` (default Nyquist).  Python-computed doubles, the SAME
    constants the oracle embeds as literals (the twiddle-table
    contract of :func:`_dft_twiddles`).  Zero weights are dropped (a
    zero row would be join noise, not information); a band whose
    triangle captures NO bin raises — silently empty bands would make
    the downstream energy relation structurally missing rows."""
    import math

    if fmax is None:
        fmax = sr / 2.0
    if n_bands <= 0 or not 0.0 <= fmin < fmax:
        raise ValueError(f"bad mel band spec: n_bands={n_bands}, [{fmin}, {fmax})")

    def mel(f: float) -> float:
        return 2595.0 * math.log10(1.0 + f / 700.0)

    def imel(m: float) -> float:
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    lo_m, hi_m = mel(fmin), mel(fmax)
    pts = [imel(lo_m + (hi_m - lo_m) * i / (n_bands + 1)) for i in range(n_bands + 2)]
    rows: list[tuple[int, int, float]] = []
    seen_bands: set[int] = set()
    for band in range(n_bands):
        lo, c, hi = pts[band], pts[band + 1], pts[band + 2]
        for k in bins:
            f = k * sr / n_fft
            if lo < f <= c:
                w = (f - lo) / (c - lo)
            elif c < f < hi:
                w = (hi - f) / (hi - c)
            else:
                continue
            if w > 0.0:
                rows.append((k, band, w))
                seen_bands.add(band)
    missing = set(range(n_bands)) - seen_bands
    if missing:
        raise ValueError(
            f"mel bands {sorted(missing)} capture no DFT bin for n_fft={n_fft}, "
            f"sr={sr}, bins={bins} — widen the band or add bins"
        )
    return rows


def audio_melbands(
    stft_df: DataFrame,
    weights: list[tuple[int, int, float]],
) -> DataFrame:
    """Triangular filterbank energies over an STFT power relation —
    the standard audio-curation feature one aggregation downstream of
    :func:`audio_stft` (speech/music discrimination, silence trimming,
    band-limited noise detection all read banded energies, not raw
    bins): ``energy(media, frame, band) = Σ_k w[band,k] ·
    power(media, frame, k)``.

    Plan shape: ONE broadcast join of the (k, band, weight) table
    (|bins|·overlap rows, frame-invariant like the twiddle table) onto
    the (media, frame, bin) relation, then one map-side-combinable
    aggregation keyed (media, frame, band) — no new shuffle beyond the
    keyed agg, linear in STFT rows × the constant band overlap.  Bins
    no triangle covers drop out at the join (inner — they carry zero
    weight by construction).

    Exactness: ``power·w`` is one IEEE rounding of two stated doubles;
    per-group sums quantize to the 1e-9 grid and sum exactly
    (functions/numeric.py::qint) — bit-identical at any parallelism,
    reproducible in any engine stating the same constants."""
    from pyspark.sql import SparkSession

    from financial_data_stream_processing_engine_spark.functions.numeric import qint

    spark = SparkSession.getActiveSession() or stft_df.sparkSession
    if len({(k, b) for k, b, _ in weights}) != len(weights):
        # a duplicated (k, band) row would silently double that bin's
        # contribution through the join — fail loudly instead (the
        # duplicate-bin rule of _dft_twiddles)
        raise ValueError("duplicate (k, band) weight rows")
    wt = spark.createDataFrame(weights, "k int, band int, w double")
    grid = F.lit(1e-9)
    return (
        stft_df.join(F.broadcast(wt), ["k"])
        .groupBy("media_id", "frame_idx", "band")
        .agg(
            (F.sum(qint(F.col("power") * F.col("w"))).cast("double") * grid).alias(
                "energy"
            ),
            F.count(F.lit(1)).cast("long").alias("n_bins"),
        )
    )


def audio_spectral_shape(
    stft_df: DataFrame,
    sr: int = 8000,
    n_fft: int = 16,
    rolloff_pct: int = 85,
    log_floor: float = 1e-9,
) -> DataFrame:
    """Spectral shape features over an STFT power relation — the
    classic per-frame audio-quality statistics (tonal-vs-noise gates,
    silence/hiss trimming, band-limited-upload detection all read
    these, not raw bins), one row per (media, frame):

    - ``centroid``: the power-weighted mean frequency
      ``Σ f_k·p_k / Σ p_k`` (Hz; NULL for an all-zero frame);
    - ``rolloff_k``: the smallest bin k whose cumulative power reaches
      ``rolloff_pct`` % of the frame total — compared in EXACT integer
      arithmetic (``100·cum ≥ pct·tot`` over the quantized powers), no
      float threshold to straddle;
    - ``flatness_log``: log geometric mean − log arithmetic mean of
      the bin powers (≤ 0; 0 = perfectly flat/noisy, very negative =
      tonal), each log on the quantized-log 1e-9 grid of
      :func:`audio_mfcc`.

    Plan shape: one exchange keyed (media, frame) carrying BOTH window
    computations (the ordered cumulative sum and the frame total) and
    the final aggregation — the groupBy key equals the window
    partitioning key, so Catalyst reuses the exchange; everything
    linear in STFT rows, no Python anywhere.

    Exactness: powers quantize to exact integers
    (functions/numeric.py::qint) before every sum, cumulative or not;
    the rolloff comparison is integer-exact; the two divisions and the
    log grid are single IEEE ops on deterministic doubles —
    bit-identical at any parallelism and in any engine stating the
    same expressions."""
    from pyspark.sql import Window

    from financial_data_stream_processing_engine_spark.functions.numeric import qint

    grid = F.lit(1e-9)
    fk = F.col("k").cast("double") * F.lit(float(sr) / n_fft)
    base = stft_df.select(
        "media_id",
        "frame_idx",
        "k",
        qint(F.col("power")).alias("p_int"),
        qint(F.col("power") * fk).alias("pf_int"),
        F.floor(F.log(F.col("power") + F.lit(log_floor)) * F.lit(1e9))
        .cast("long")
        .alias("lq_int"),
    )
    part = Window.partitionBy("media_id", "frame_idx")
    cum = base.select(
        "*",
        F.sum("p_int")
        .over(part.orderBy("k").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_int"),
        F.sum("p_int").over(part).alias("tot_int"),
    )
    sump = F.sum("p_int").cast("double") * grid
    sumpf = F.sum("pf_int").cast("double") * grid
    n_d = F.count(F.lit(1)).cast("double")
    return cum.groupBy("media_id", "frame_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.try_divide(sumpf, F.nullif(sump, F.lit(0.0))).alias("centroid"),
        F.min(
            F.when(
                F.col("cum_int") * F.lit(100) >= F.col("tot_int") * F.lit(rolloff_pct),
                F.col("k"),
            )
        ).alias("rolloff_k"),
        (
            (F.sum("lq_int").cast("double") * grid) / n_d
            - F.floor(F.log(sump / n_d + F.lit(log_floor)) * F.lit(1e9)).cast("double")
            * grid
        ).alias("flatness_log"),
    )


def audio_spectral_flux(stft_df: DataFrame) -> DataFrame:
    """Rectified spectral flux per frame — THE onset/novelty statistic
    over an STFT power relation (attack detection, speech syllable
    rate, cut detection in audio curation all read frame-to-frame
    spectral change): ``flux(media, f) = Σ_k max(0, p[f,k] −
    p[f−1,k])`` — positive first differences only, so energy ARRIVING
    in a bin counts and energy decaying does not.  Frame 0 has no
    predecessor and is excluded (the partial-window rule of
    :func:`audio_power_spectrum`, applied to differences).

    Plan shape: one lag window keyed (media, bin) ordered by frame,
    then one map-side-combinable aggregation keyed (media, frame) —
    two exchanges, linear in STFT rows, no Python anywhere.

    Exactness: each difference is one IEEE subtract of two
    deterministic doubles, the rectification is an exact comparison,
    and per-group sums quantize to the 1e-9 grid
    (functions/numeric.py::qint) — bit-identical at any parallelism
    and in any engine stating the same expressions."""
    from pyspark.sql import Window

    from financial_data_stream_processing_engine_spark.functions.numeric import qint

    grid = F.lit(1e-9)
    w = Window.partitionBy("media_id", "k").orderBy("frame_idx")
    d = stft_df.select(
        "media_id",
        "frame_idx",
        (F.col("power") - F.lag("power", 1).over(w)).alias("d"),
    ).where(F.col("d").isNotNull())
    return d.groupBy("media_id", "frame_idx").agg(
        (F.sum(qint(F.greatest(F.lit(0.0), F.col("d")))).cast("double") * grid).alias(
            "flux"
        ),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )


def audio_zcr(
    samples_df: DataFrame,
    n_fft: int = 16,
    hop: int = 8,
) -> DataFrame:
    """Per-frame zero-crossing rate — the third member of the classic
    short-time feature trio (energy / ZCR / flux; voiced-unvoiced
    discrimination, noisiness scoring and silence trimming read sign
    changes, which need no spectrum at all): over the same frame
    lattice as :func:`audio_stft` (frame f covers samples [f·hop,
    f·hop+n_fft)), count consecutive-sample pairs whose signs differ
    → (media_id, frame_idx, zc_count, n_pairs, zc_rate) with
    ``zc_rate = zc_count/(n_fft−1)``.  Zero is non-negative (the
    samples are exact dyadics, so equality to 0.0 is exact); a pair
    belongs to every frame containing BOTH its samples, the
    constant-overlap ``sequence``+``explode`` assignment of the STFT.

    Entirely integer arithmetic until the single division by the
    constant pair count — nothing to quantize, bit-identical in any
    engine.  Plan shape: one lag window keyed (media) ordered by
    sample position (row width is bounded by the decode cap, the
    :func:`decode_audio_samples` contract), the constant-factor frame
    expansion, one map-side-combinable aggregation keyed
    (media, frame).  Media shorter than ``n_fft`` are excluded (the
    partial-window rule)."""
    from pyspark.sql import Window

    if n_fft <= 1 or hop <= 0:
        raise ValueError(f"need n_fft > 1 and hop > 0, got {n_fft}, {hop}")
    base = samples_df.where(F.size("samples") >= n_fft).select(
        "media_id",
        (F.floor((F.size("samples") - F.lit(n_fft)) / F.lit(hop)) + 1)
        .cast("int")
        .alias("n_frames"),
        F.posexplode("samples").alias("pos", "x"),
    )
    w = Window.partitionBy("media_id").orderBy("pos")
    pairs = base.select(
        "media_id",
        "n_frames",
        "pos",
        (
            (F.col("x") < 0) != (F.lag("x", 1).over(w) < 0)
        ).cast("int").alias("c"),
    ).where(F.col("c").isNotNull())
    # frames containing BOTH samples pos-1 and pos of the pair:
    # f·hop ≤ pos−1 and pos ≤ f·hop + n_fft − 1, f a full frame
    f_lo = F.greatest(
        F.lit(0), F.ceil((F.col("pos") - F.lit(n_fft - 1)) / F.lit(hop)).cast("int")
    )
    f_hi = F.least(
        F.col("n_frames") - F.lit(1),
        F.floor((F.col("pos") - F.lit(1)) / F.lit(hop)).cast("int"),
    )
    assigned = pairs.select(
        "media_id",
        "c",
        F.explode(
            F.when(f_lo <= f_hi, F.sequence(f_lo, f_hi)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("frame_idx"),
    )
    return assigned.groupBy("media_id", "frame_idx").agg(
        F.sum("c").cast("long").alias("zc_count"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.sum("c").cast("double") / F.lit(float(n_fft - 1))).alias("zc_rate"),
    )


def dct2_basis(n_bands: int, n_coeffs: int) -> list[tuple[int, int, float]]:
    """(band, coeff, weight) rows of the (orthogonality-unnormalized)
    DCT-II basis ``w[c, m] = cos(π·c·(m + ½)/M)`` over ``M = n_bands``
    mel bands — Python-computed doubles, the SAME constants the oracle
    embeds as literals (the twiddle/filterbank-table contract of
    :func:`_dft_twiddles` / :func:`mel_band_weights`).  ``n_coeffs``
    may not exceed ``n_bands``: DCT-II over M points has exactly M
    independent coefficients, and a silent over-ask would emit rows of
    pure aliasing noise."""
    import math

    if not 0 < n_coeffs <= n_bands:
        raise ValueError(f"need 0 < n_coeffs <= n_bands, got {n_coeffs}, {n_bands}")
    return [
        (m, c, math.cos(math.pi * c * (m + 0.5) / n_bands))
        for c in range(n_coeffs)
        for m in range(n_bands)
    ]


def audio_mfcc(
    melbands_df: DataFrame,
    basis: list[tuple[int, int, float]],
    log_floor: float = 1e-9,
) -> DataFrame:
    """Mel-frequency cepstral coefficients over the filterbank
    energies — the last step of the standard audio-curation feature
    chain (decode → STFT → mel energies → log → DCT-II; speaker/
    content clustering, speech-vs-music gates and spectral-envelope
    dedup all consume MFCCs, not raw energies):
    ``mfcc(media, frame, c) = Σ_m dct[c, m] · logq(energy(media,
    frame, m))``.

    Plan shape: ONE broadcast join of the (band, coeff, weight) DCT
    table (``n_bands × n_coeffs`` rows, frame-invariant like the
    twiddle and filterbank tables) onto the (media, frame, band)
    energy relation, then one map-side-combinable aggregation keyed
    (media, frame, coeff) — the same shape as :func:`audio_melbands`,
    linear in melband rows × the constant coefficient count, no
    Python anywhere (the decode seam was the only Python upstream).

    Exactness — the quantized-log contract: the log-energy is
    *defined* on the 1e-9 grid, ``logq(e) = ⌊ln(e + log_floor)·10⁹⌋ ·
    10⁻⁹`` — the floor collapses the last-ulp liberty IEEE grants
    ``ln`` implementations (Spark's Math.log, DuckDB's std::log and
    CPython's math.log were swept bit-identical on every fixture
    energy at this grid), the additive ``log_floor`` keeps zero-energy
    bands finite, and the downstream products/sums quantize exactly as
    everywhere else (functions/numeric.py::qint).  Bit-identical at
    any parallelism, reproducible in any engine stating the same
    constants."""
    from pyspark.sql import SparkSession

    from financial_data_stream_processing_engine_spark.functions.numeric import qint

    spark = SparkSession.getActiveSession() or melbands_df.sparkSession
    if len({(m, c) for m, c, _ in basis}) != len(basis):
        # the duplicate-row rule of audio_melbands / _dft_twiddles
        raise ValueError("duplicate (band, coeff) basis rows")
    bt = spark.createDataFrame(basis, "band int, c int, w double")
    grid = F.lit(1e-9)
    logq = (
        F.floor(F.log(F.col("energy") + F.lit(log_floor)) * F.lit(1e9))
        .cast("double")
        * grid
    )
    return (
        melbands_df.select("media_id", "frame_idx", "band", logq.alias("logq"))
        .join(F.broadcast(bt), ["band"])
        .groupBy("media_id", "frame_idx", "c")
        .agg(
            (F.sum(qint(F.col("logq") * F.col("w"))).cast("double") * grid).alias(
                "mfcc"
            ),
            F.count(F.lit(1)).cast("long").alias("n_bands"),
        )
    )


def audio_segment_classes(
    samples_df: DataFrame,
    stft_df: DataFrame,
    n_fft: int = 16,
    hop: int = 8,
    zcr_noise: float = 0.57,
    flat_noise: float = -0.45,
    flux_voiced: float = 18.0,
    log_floor: float = 1e-9,
) -> DataFrame:
    """Voiced/music/noise segment classification per STFT frame — the
    composed consumer of the short-time feature trio (the audio
    counterpart of the text family's ``pipeline_pretraining_corpus``):
    a curation gate keeps speech, caps music, drops hiss, and the
    decision reads exactly these three features:

    - NOISE: high zero-crossing rate AND a flat spectrum
      (``zc_rate ≥ zcr_noise`` and ``flatness_log ≥ flat_noise`` —
      flatness_log ≤ 0 with 0 = perfectly flat, so "≥ threshold"
      means noise-like);
    - VOICED: not noise, and onset-rich (``flux ≥ flux_voiced`` —
      speech is spectrally dynamic frame-to-frame);
    - MUSIC: the tonal, steady remainder.

    Inputs are the SAME relations the individual feature entries use:
    :func:`audio_zcr` over the decoded samples and
    :func:`audio_spectral_flux` / :func:`audio_spectral_shape` over
    the STFT power lattice — all keyed (media, frame), so the two
    joins land on already-partitioned data and the classification
    itself is a stateless CASE over three deterministic doubles
    against literal thresholds (identical comparisons in any engine —
    the features are bit-identical by their own contracts).  Frame 0
    carries no flux (no predecessor) and is excluded, the
    partial-window rule applied to the composition.

    Returns one row per (media, frame): the three feature values and
    ``segment_class ∈ ('voiced', 'music', 'noise')``.  The catalog
    entry aggregates these into the per-media histogram a curation
    gate filters on."""
    zcr = audio_zcr(samples_df, n_fft=n_fft, hop=hop)
    flux = audio_spectral_flux(stft_df)
    shape = audio_spectral_shape(stft_df, n_fft=n_fft, log_floor=log_floor)
    keys = ["media_id", "frame_idx"]
    j = (
        zcr.select(*keys, "zc_rate")
        .join(shape.select(*keys, "flatness_log"), keys)
        .join(flux.select(*keys, "flux"), keys)
    )
    seg = (
        F.when(
            (F.col("zc_rate") >= F.lit(zcr_noise))
            & (F.col("flatness_log") >= F.lit(flat_noise)),
            F.lit("noise"),
        )
        .when(F.col("flux") >= F.lit(flux_voiced), F.lit("voiced"))
        .otherwise(F.lit("music"))
    )
    return j.select(*keys, "zc_rate", "flatness_log", "flux", seg.alias("segment_class"))


def video_scene_cuts(frames_df: DataFrame, threshold: float = 0.25) -> DataFrame:
    """Frame-difference scene-cut detection over a decoded-frame
    relation — the shot-boundary statistic of video curation (clip
    segmentation for captioning, duplicate-shot removal and sampling
    all start from cut boundaries; the classic detector thresholds the
    inter-frame luminance difference): over ``(media_id, frame_idx,
    mean_luma)`` rows from :func:`decode_video_frames`, ``luma_delta(f)
    = mean_luma[f] − mean_luma[f−1]`` per media, and ``is_cut = |Δ| ≥
    threshold``.  Frame 0 has no predecessor and is excluded (the
    partial-window rule — the flux convention applied to video).

    Plan shape: ONE lag window keyed (media) ordered by frame index —
    linear in frame rows, row width bounded by the decode's
    ``max_frames`` cap, no Python (the decode seam ran upstream).
    Exactness: the delta is one IEEE subtract of two deterministic
    decoded doubles, ABS is exact, and the threshold compare is the
    same literal in any engine — bit-identical everywhere.

    Returns (media_id, frame_idx, mean_luma, luma_delta, is_cut)."""
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    d = frames_df.select(
        "media_id",
        "frame_idx",
        "mean_luma",
        (F.col("mean_luma") - F.lag("mean_luma", 1).over(w)).alias("luma_delta"),
    )
    return d.where(F.col("luma_delta").isNotNull()).select(
        "media_id",
        "frame_idx",
        "mean_luma",
        "luma_delta",
        (F.abs(F.col("luma_delta")) >= F.lit(threshold)).alias("is_cut"),
    )
