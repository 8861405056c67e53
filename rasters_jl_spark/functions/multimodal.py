"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Images are decoded for real in three formats (:func:`decode_image`):
binary P6 PPM and uncompressed 24-bit BMP (pure NumPy), plus 8-bit
truecolor PNG — a genuinely COMPRESSED container — via stdlib ``zlib``
(IDAT inflate + full five-filter scanline defilter, no codec libraries).
Header fields (width/height/depth) are read from the actual bytes, pixel
arrays reshaped/row-flipped per each format spec. Formats needing
non-stdlib codecs (JPEG) raise a clear error; at production scale the
same ``mapInPandas`` kernel calls PIL with the identical batch shape.
Partition by media kind so executors with the right codecs handle the
right rows; each decode batch is one Arrow record batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
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
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media rows from documents (html bytes as payload)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.col("doc_id") % 10000).cast("int").alias("duration_ms"),
    )


IMG_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("c0_mean", DoubleType()),
        StructField("c1_mean", DoubleType()),
        StructField("c2_mean", DoubleType()),
    ]
)


PNG_SIG = b"\x89PNG\r\n\x1a\n"


# Decode-side resource bound for untrusted web-crawl payloads: a header
# may legally declare up to 65535×65535 (JPEG) or 2³¹-1 square (PNG) —
# allocating planes from the declared size before validating any pixel
# data lets a few-hundred-byte crafted payload exhaust executor memory.
# Anything above this cap raises the ValueError routing contract instead.
MAX_DECODE_PIXELS = 1 << 26  # 64 Mpx ≈ 192 MB decoded RGB


def _png_paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png(payload: bytes):
    """8-bit truecolor (colour type 2), non-interlaced PNG via stdlib
    zlib: walk chunks, inflate the IDAT stream, undo the per-scanline
    filter (all five: None/Sub/Up/Average/Paeth). Returns (w, h, arr).
    Malformed payloads (truncated chunks, corrupt IDAT) raise ValueError —
    the decode_image error contract callers route on; struct/zlib errors
    never leak (a foreign exception type would kill the whole Arrow batch
    instead of routing the row)."""
    import struct
    import zlib

    import numpy as np

    i, idat, w, h = 8, [], None, None
    while i + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, i)
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            if len(data) < 13:
                raise ValueError("malformed PNG: truncated IHDR chunk")
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(">IIBBBBB", data[:13])
            if depth != 8 or ctype != 2 or inter != 0:
                raise ValueError(
                    "only 8-bit truecolor non-interlaced PNG supported "
                    f"(depth={depth}, colour type={ctype}, interlace={inter})"
                )
            if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
                raise ValueError(f"PNG dimensions out of bounds ({w}x{h})")
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + data + CRC
    if w is None:
        raise ValueError("PNG without IHDR")
    stride, bpp = w * 3, 3
    expected = h * (stride + 1)
    try:
        # Bounded inflate: a decompression bomb (tiny IDAT inflating to
        # gigabytes) stops at expected+1 bytes and fails the length check
        # instead of exhausting memory.
        raw = zlib.decompressobj().decompress(b"".join(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"malformed PNG: corrupt IDAT stream ({e})") from e
    if len(raw) != expected:
        raise ValueError("PNG IDAT length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for r in range(h):
        f = raw[pos]
        pos += 1
        rec = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).copy()
        pos += stride
        prev = out[r - 1] if r else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            pass
        elif f == 1:  # Sub: left neighbour, sequential within the row
            for x in range(bpp, stride):
                rec[x] = (int(rec[x]) + int(rec[x - bpp])) & 0xFF
        elif f == 2:  # Up: uint8 add wraps mod 256 by itself
            rec += prev
        elif f == 3:  # Average
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(rec[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                rec[x] = (int(rec[x]) + _png_paeth(a, int(prev[x]), c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {f}")
        out[r] = rec
    return w, h, out.reshape(h, w, 3)


def _jpeg_zigzag() -> list:
    """Natural (row*8+col) index of the i-th zigzag-order coefficient,
    generated by the diagonal walk instead of a hardcoded table."""
    zz = []
    for s in range(15):
        rng = range(s + 1)
        for i in (rng if s % 2 else reversed(rng)):
            r, c = i, s - i
            if r < 8 and c < 8:
                zz.append(r * 8 + c)
    return zz


def _jpeg_huff_table(bits, vals) -> dict:
    """Canonical Huffman map {(length, code): value} from a DHT segment's
    BITS (counts per code length 1..16) + HUFFVAL arrays — the JPEG
    Annex C construction both encode and decode share."""
    table, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[i]
            i += 1
            code += 1
        code <<= 1
    return table


def _jpeg_idct_mat():
    """Orthonormal 8-point DCT-II basis M[u][x] = c(u)/2 · cos((2x+1)uπ/16);
    the 2-D inverse is Mᵀ·F·M."""
    import math

    import numpy as np

    m = np.empty((8, 8))
    for u in range(8):
        cu = (0.5 ** 0.5) if u == 0 else 1.0
        for x in range(8):
            m[u][x] = (cu / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m


def _decode_jpeg(payload: bytes):
    """Baseline sequential JPEG (SOF0), 8-bit, grayscale or 3-component
    color at 4:4:4 / 4:2:2 / 4:2:0 (sampling factors 1 and 2), via stdlib
    only: marker walk (DQT/DHT/SOF0/SOS), canonical Huffman decode of the
    entropy stream (FF00 unstuffing, per-component DC prediction, AC
    run/size with EOB), hc×vc-block MCU interleave, dequantize in zigzag
    order, float IDCT, +128 level shift; chroma upsamples back to full
    resolution by nearest replication and color goes through the JFIF
    YCbCr→RGB transform. Returns (w, h, arr) as (h, w, 3) — grayscale
    replicated. Single-component scans are NON-interleaved per T.81
    (block raster order; declared sampling factors don't shape the scan).
    Restart intervals (DRI/RSTn) are decoded: byte-aligned marker
    consumption, sequence checking, per-restart DC predictor resets.
    Progressive scans, sampling factors outside {1,2}, and 16-bit tables
    raise ValueError — same error contract as the other codecs (route to
    codec-equipped executors); malformed streams raise ValueError too."""
    import numpy as np

    qt: dict = {}
    huff: dict = {}
    w = h = None
    comps = None  # [(tq,), ...] from SOF0, component order
    scan = None  # [(td, ta), ...] from SOS, same order
    ri = 0  # DRI restart interval in MCUs (0 = none)
    zz = _jpeg_zigzag()
    i, n = 2, len(payload)
    try:
        while i < n:
            if payload[i] != 0xFF:
                raise ValueError("malformed JPEG: expected marker")
            # T.81 B.1.1.2: a marker may be preceded by any number of
            # optional 0xFF fill bytes — skip them before the marker code
            while i + 1 < n and payload[i + 1] == 0xFF:
                i += 1
            m = payload[i + 1]
            if m == 0xD9:  # EOI
                break
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            seg = payload[i + 4 : i + 2 + seg_len]
            if m == 0xDB:  # DQT (possibly several tables per segment)
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 15
                    if pq:
                        raise ValueError("16-bit quant tables not supported")
                    qt[tq] = list(seg[j + 1 : j + 65])
                    j += 65
            elif m == 0xC4:  # DHT (possibly several tables per segment)
                j = 0
                while j < len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 15
                    bits = list(seg[j + 1 : j + 17])
                    nv = sum(bits)
                    vals = list(seg[j + 17 : j + 17 + nv])
                    huff[(tc, th)] = _jpeg_huff_table(bits, vals)
                    j += 17 + nv
            elif m == 0xC0:  # SOF0 baseline
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if nc not in (1, 3):
                    raise ValueError(f"unsupported JPEG component count {nc}")
                if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
                    raise ValueError(f"JPEG dimensions out of bounds ({w}x{h})")
                comps, comp_ids = [], []
                for c in range(nc):
                    samp = seg[7 + 3 * c]
                    hs, vs = samp >> 4, samp & 15
                    if hs not in (1, 2) or vs not in (1, 2):
                        raise ValueError(
                            f"unsupported JPEG sampling factors {hs}x{vs} "
                            "(1 and 2 supported: 4:4:4, 4:2:2, 4:2:0)"
                        )
                    comps.append((hs, vs, seg[8 + 3 * c]))
                    comp_ids.append(seg[6 + 3 * c])
            elif m == 0xC2:  # SOF2 — hand the whole payload to the
                return _decode_jpeg_progressive(payload)  # progressive path
            elif m in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
                raise ValueError(
                    "only baseline (SOF0) and progressive (SOF2) JPEG supported"
                )
            elif m == 0xDD:  # DRI — restart every `ri` MCUs
                ri = int.from_bytes(seg[0:2], "big")
            elif m == 0xDA:  # SOS — entropy data follows
                if comps is None:
                    raise ValueError("malformed JPEG: SOS before SOF0")
                ns = seg[0]
                # Each SOS entry carries a component SELECTOR (Cs) naming
                # the SOF0 component its (Td, Ta) tables apply to — a
                # legal scan may list components in any order, so map by
                # id rather than position (positional reading decodes a
                # reordered scan with swapped tables/predictors: silently
                # wrong pixels).
                by_id = {
                    seg[1 + 2 * c]: (seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                    for c in range(ns)
                }
                if len(by_id) != ns or set(by_id) != set(comp_ids):
                    raise ValueError(
                        "malformed JPEG: SOS component selectors do not "
                        "match SOF0 component ids"
                    )
                scan = [by_id[cid] for cid in comp_ids]
                i = i + 2 + seg_len
                break
            i += 2 + seg_len
        if w is None or comps is None or scan is None or len(scan) != len(comps):
            raise ValueError("malformed JPEG: missing SOF0/SOS")
        if len(comps) == 1:
            # T.81: a single-component scan is NON-interleaved — blocks in
            # plain raster order, the declared sampling factors don't shape
            # the scan (an interleaved walk would scramble block placement
            # for files declaring e.g. 0x22 on their only component)
            comps = [(1, 1, comps[0][2])]
        end = payload.rfind(b"\xff\xd9")
        data = payload[i : end if end >= 0 else n].replace(b"\xff\x00", b"\xff")

        pos = 0  # bit cursor over data

        def bit():
            nonlocal pos
            byte = data[pos >> 3]
            b = (byte >> (7 - (pos & 7))) & 1
            pos += 1
            return b

        def read_huff(tab):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | bit()
                ln += 1
                if (ln, code) in tab:
                    return tab[(ln, code)]
            raise ValueError("malformed JPEG: bad Huffman code")

        def receive_extend(s):
            if s == 0:
                return 0
            v = 0
            for _ in range(s):
                v = (v << 1) | bit()
            return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

        mat = _jpeg_idct_mat()
        nc = len(comps)
        hmax = max(c[0] for c in comps)
        vmax = max(c[1] for c in comps)
        mx = (w + 8 * hmax - 1) // (8 * hmax)
        my = (h + 8 * vmax - 1) // (8 * vmax)
        planes = [
            np.zeros((my * vc * 8, mx * hc * 8), dtype=np.uint8)
            for hc, vc, _tq in comps
        ]
        preds = [0] * nc
        for m_i in range(mx * my):
            if ri and m_i and m_i % ri == 0:
                # restart: byte-align, consume RSTn (n cycles 0..7), reset
                # DC predictors — unstuffing removed whole bytes only, so
                # byte alignment is preserved in `data`
                pos = (pos + 7) & ~7
                j = pos >> 3
                if j + 1 >= len(data) or data[j] != 0xFF or not (
                    0xD0 <= data[j + 1] <= 0xD7
                ):
                    raise ValueError("malformed JPEG: expected restart marker")
                if data[j + 1] != 0xD0 + ((m_i // ri - 1) % 8):
                    raise ValueError("malformed JPEG: restart marker out of sequence")
                pos += 16
                preds = [0] * nc
            myi, mxi = divmod(m_i, mx)
            # MCU = hc×vc 8×8 blocks per component (raster order within
            # the MCU), components interleaved in order, each with its
            # own DC predictor and tables
            for ci, (hc, vc, tq) in enumerate(comps):
                dct, act = huff[(0, scan[ci][0])], huff[(1, scan[ci][1])]
                q = qt[tq]
                for vy in range(vc):
                    for vx in range(hc):
                        coef = np.zeros(64)
                        preds[ci] += receive_extend(read_huff(dct))
                        coef[0] = preds[ci] * q[0]
                        k = 0
                        while k < 63:
                            rs = read_huff(act)
                            if rs == 0:  # EOB
                                break
                            r, s = rs >> 4, rs & 15
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += r + 1
                            if k > 63:
                                raise ValueError("malformed JPEG: AC index overflow")
                            coef[zz[k]] = receive_extend(s) * q[k]
                        px = mat.T @ coef.reshape(8, 8) @ mat + 128.0
                        r0 = (myi * vc + vy) * 8
                        c0 = (mxi * hc + vx) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = np.clip(
                            np.round(px), 0, 255
                        ).astype(np.uint8)
    except (IndexError, KeyError, ValueError) as e:
        if isinstance(e, ValueError):
            raise
        # IndexError: truncated stream; KeyError: SOS/SOF referencing a
        # Huffman/quant table no DHT/DQT defined — both must surface as
        # the ValueError contract, not kill the whole Arrow batch
        raise ValueError(f"malformed JPEG: {type(e).__name__} ({e})") from e
    return _jpeg_assemble(comps, planes, w, h, hmax, vmax)


def _jpeg_assemble(comps, planes, w: int, h: int, hmax: int, vmax: int):
    """Shared tail of the baseline and progressive decoders: crop the
    decoded planes, nearest-upsample chroma, apply the JFIF YCbCr→RGB
    transform (or replicate grayscale) — returns (w, h, (h, w, 3) u8)."""
    import numpy as np

    if len(comps) == 1:
        gray = planes[0][:h, :w]
        return w, h, np.repeat(gray[:, :, None], 3, axis=2)

    def full_res(ci):
        # nearest (pixel-replication) chroma upsampling back to full res
        hc, vc, _tq = comps[ci]
        p = planes[ci]
        if vc < vmax:
            p = np.repeat(p, vmax // vc, axis=0)
        if hc < hmax:
            p = np.repeat(p, hmax // hc, axis=1)
        return p[:h, :w].astype(np.float64)

    # JFIF YCbCr → RGB on the decoded planes (round-half ties cannot occur
    # with the irrational-in-binary coefficients; see synth_jpeg_color)
    y = full_res(0)
    cb = full_res(1) - 128.0
    cr = full_res(2) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return w, h, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_jpeg_progressive(payload: bytes):
    """Progressive JPEG (SOF2), 8-bit, 1 or 3 components, sampling factors
    {1,2}, via stdlib only — the remaining real-crawl variant next to the
    baseline decoder (T.81 Annex G: spectral selection + successive
    approximation). Coefficients accumulate across scans in per-component
    zigzag-order stores; each SOS is decoded by scan class:

    - DC first (Ss=Se=0, Ah=0): Huffman DC diffs, value ``<< Al``;
      interleaved MCU walk when the scan lists >1 component, raster walk
      over the component's own block grid otherwise.
    - DC refine (Ah>0): one raw bit per block, OR-ed in at position Al
      (two's-complement semantics — Python ints match C here).
    - AC first (Ss>0, Ah=0): run/size with sign-magnitude point transform
      (``sign·(|v|>>Al)``), EOBRUN block-skip codes (rs=r<<4, run
      ``(1<<r)+receive(r)``); T.81 requires AC scans be single-component.
    - AC refine (Ss>0, Ah>0): the G.1.2.3 correction-bit algorithm —
      structure follows the public libjpeg/stb reference semantics:
      correction bits append ±(1<<Al) to already-nonzero history
      coefficients, runs count only zero-history positions, EOBRUN blocks
      still consume correction bits for their nonzero coefficients.

    DHT segments may appear between scans (later tables override); DRI/
    RSTn restarts byte-align, check sequence, and reset DC predictors AND
    EOBRUN. After EOI: dequantize (zigzag store × zigzag quant table),
    IDCT, level shift, then the shared plane-assembly tail. Dimension and
    decompression bounds match the baseline decoder; all malformations
    raise the ValueError routing contract."""
    import numpy as np

    qt: dict = {}
    huff: dict = {}
    w = h = None
    comps = None  # [(hc, vc, tq), ...] SOF2 order
    comp_ids: list = []
    ri = 0
    zz = _jpeg_zigzag()
    i, n = 2, len(payload)
    coef = None  # per component: int32 (bh_pad, bw_pad, 64) ZIGZAG order
    preds_eob: dict = {}
    dims = None

    def entropy_end(start: int) -> int:
        # entropy data runs to the next marker that is not stuffing (FF00)
        # and not a restart (FFD0..FFD7)
        j = start
        while j + 1 < n:
            if payload[j] == 0xFF and payload[j + 1] != 0x00 and not (
                0xD0 <= payload[j + 1] <= 0xD7
            ):
                return j
            j += 1
        return n

    def decode_scan(scan_comps, ss, se, ah, al, data):
        # scan_comps: [(ci, td, ta), ...]; data already FF00-unstuffed
        nonlocal_state = {"pos": 0, "eobrun": 0}
        preds = [0] * len(scan_comps)

        def bit():
            st = nonlocal_state
            byte = data[st["pos"] >> 3]
            b = (byte >> (7 - (st["pos"] & 7))) & 1
            st["pos"] += 1
            return b

        def bits(k):
            v = 0
            for _ in range(k):
                v = (v << 1) | bit()
            return v

        def read_huff(tab):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | bit()
                ln += 1
                if (ln, code) in tab:
                    return tab[(ln, code)]
            raise ValueError("malformed JPEG: bad Huffman code")

        def extend(v, s):
            return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

        def restart(unit_i, interval):
            st = nonlocal_state
            st["pos"] = (st["pos"] + 7) & ~7
            j = st["pos"] >> 3
            if j + 1 >= len(data) or data[j] != 0xFF or not (
                0xD0 <= data[j + 1] <= 0xD7
            ):
                raise ValueError("malformed JPEG: expected restart marker")
            if data[j + 1] != 0xD0 + ((unit_i // interval - 1) % 8):
                raise ValueError("malformed JPEG: restart marker out of sequence")
            st["pos"] += 16
            st["eobrun"] = 0
            for ci in range(len(preds)):
                preds[ci] = 0

        if ss == 0:  # DC scan (Se must be 0; validated by caller)
            if ah == 0:  # DC first
                def dc_first(sci, ci, by, bx):
                    s = read_huff(huff[(0, scan_comps[sci][1])])
                    preds[sci] += extend(bits(s), s) if s else 0
                    coef[ci][by, bx, 0] = preds[sci] << al
                if len(scan_comps) > 1:
                    mx, my = dims["mx"], dims["my"]
                    for m_i in range(mx * my):
                        if ri and m_i and m_i % ri == 0:
                            restart(m_i, ri)
                        myi, mxi = divmod(m_i, mx)
                        for sci, (ci, _td, _ta) in enumerate(scan_comps):
                            hc, vc, _tq = comps[ci]
                            for vy in range(vc):
                                for vx in range(hc):
                                    dc_first(
                                        sci, ci, myi * vc + vy, mxi * hc + vx
                                    )
                else:
                    ci = scan_comps[0][0]
                    bh_c, bw_c = dims["nonint"][ci]
                    for b in range(bh_c * bw_c):
                        if ri and b and b % ri == 0:
                            restart(b, ri)
                        dc_first(0, ci, b // bw_c, b % bw_c)
            else:  # DC refine: one raw bit per block at position Al
                p1 = 1 << al
                if len(scan_comps) > 1:
                    mx, my = dims["mx"], dims["my"]
                    for m_i in range(mx * my):
                        if ri and m_i and m_i % ri == 0:
                            restart(m_i, ri)
                        myi, mxi = divmod(m_i, mx)
                        for ci, _td, _ta in scan_comps:
                            hc, vc, _tq = comps[ci]
                            for vy in range(vc):
                                for vx in range(hc):
                                    if bit():
                                        coef[ci][
                                            myi * vc + vy, mxi * hc + vx, 0
                                        ] |= p1
                else:
                    ci = scan_comps[0][0]
                    bh_c, bw_c = dims["nonint"][ci]
                    for b in range(bh_c * bw_c):
                        if ri and b and b % ri == 0:
                            restart(b, ri)
                        if bit():
                            coef[ci][b // bw_c, b % bw_c, 0] |= p1
            return

        # AC scans: T.81 G.1: single component only, non-interleaved
        if len(scan_comps) != 1:
            raise ValueError("malformed progressive JPEG: interleaved AC scan")
        ci, _td, ta = scan_comps[0]
        act = huff[(1, ta)]
        bh_c, bw_c = dims["nonint"][ci]
        st = nonlocal_state

        if ah == 0:  # AC first scan
            for b in range(bh_c * bw_c):
                if ri and b and b % ri == 0:
                    restart(b, ri)
                blk = coef[ci][b // bw_c, b % bw_c]
                if st["eobrun"] > 0:
                    st["eobrun"] -= 1
                    continue
                k = ss
                while k <= se:
                    rs = read_huff(act)
                    r, s = rs >> 4, rs & 15
                    if s:
                        k += r
                        if k > se:
                            raise ValueError("malformed JPEG: AC index overflow")
                        blk[k] = extend(bits(s), s) << al
                        k += 1
                    else:
                        if r < 15:
                            st["eobrun"] = (1 << r) - 1
                            if r:
                                st["eobrun"] += bits(r)
                            break
                        k += 16  # ZRL
        else:  # AC refine scan — G.1.2.3 correction-bit algorithm
            p1, m1 = 1 << al, -1 << al
            for b in range(bh_c * bw_c):
                if ri and b and b % ri == 0:
                    restart(b, ri)
                blk = coef[ci][b // bw_c, b % bw_c]
                k = ss
                if st["eobrun"] == 0:
                    while k <= se:
                        rs = read_huff(act)
                        r, s = rs >> 4, rs & 15
                        newval = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "malformed progressive JPEG: AC refine s != 1"
                                )
                            newval = p1 if bit() else m1
                        else:
                            if r < 15:
                                # NOT the first-scan (1<<r)-1 form: the
                                # current block's trailing correction bits
                                # are consumed by the EOBRUN branch below,
                                # which then decrements for this block
                                st["eobrun"] = 1 << r
                                if r:
                                    st["eobrun"] += bits(r)
                                break
                            # ZRL: r == 15 → skip 16 zero-history coefs
                        # advance: correction bits on nonzero-history
                        # coefficients, r counts zero-history ones
                        while k <= se:
                            c = int(blk[k])
                            if c != 0:
                                if bit() and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if s and k <= se:
                            blk[k] = newval
                            k += 1
                        elif s:
                            raise ValueError(
                                "malformed JPEG: AC refine placement overflow"
                            )
                        elif k <= se:
                            # ZRL: the advance loop stops AT the 16th
                            # zero-history position — step past it
                            k += 1
                if st["eobrun"] > 0:
                    # EOB blocks still consume correction bits for their
                    # nonzero-history coefficients in the band
                    while k <= se:
                        c = int(blk[k])
                        if c != 0:
                            if bit() and (c & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    st["eobrun"] -= 1

    try:
        while i < n:
            if payload[i] != 0xFF:
                raise ValueError("malformed JPEG: expected marker")
            while i + 1 < n and payload[i + 1] == 0xFF:  # T.81 B.1.1.2 fill
                i += 1
            m = payload[i + 1]
            if m == 0xD9:  # EOI
                break
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            seg = payload[i + 4 : i + 2 + seg_len]
            if m == 0xDB:
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 15
                    if pq:
                        raise ValueError("16-bit quant tables not supported")
                    qt[tq] = list(seg[j + 1 : j + 65])
                    j += 65
            elif m == 0xC4:
                j = 0
                while j < len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 15
                    bits_ = list(seg[j + 1 : j + 17])
                    nv = sum(bits_)
                    vals = list(seg[j + 17 : j + 17 + nv])
                    huff[(tc, th)] = _jpeg_huff_table(bits_, vals)
                    j += 17 + nv
            elif m == 0xC2:  # SOF2 progressive
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if nc not in (1, 3):
                    raise ValueError(f"unsupported JPEG component count {nc}")
                if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
                    raise ValueError(f"JPEG dimensions out of bounds ({w}x{h})")
                comps, comp_ids = [], []
                for c in range(nc):
                    samp = seg[7 + 3 * c]
                    hs, vs = samp >> 4, samp & 15
                    if hs not in (1, 2) or vs not in (1, 2):
                        raise ValueError(
                            f"unsupported JPEG sampling factors {hs}x{vs} "
                            "(1 and 2 supported: 4:4:4, 4:2:2, 4:2:0)"
                        )
                    comps.append((hs, vs, seg[8 + 3 * c]))
                    comp_ids.append(seg[6 + 3 * c])
                if nc == 1:
                    comps = [(1, 1, comps[0][2])]  # T.81 non-interleaved
                hmax = max(c[0] for c in comps)
                vmax = max(c[1] for c in comps)
                mx = (w + 8 * hmax - 1) // (8 * hmax)
                my = (h + 8 * vmax - 1) // (8 * vmax)
                dims = {
                    "mx": mx,
                    "my": my,
                    "nonint": [
                        (
                            (-(-(h * vc) // vmax) + 7) // 8,
                            (-(-(w * hc) // hmax) + 7) // 8,
                        )
                        for hc, vc, _tq in comps
                    ],
                }
                coef = [
                    np.zeros((my * vc, mx * hc, 64), dtype=np.int32)
                    for hc, vc, _tq in comps
                ]
            elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
                raise ValueError("malformed JPEG: mixed/unsupported SOF in "
                                 "progressive stream")
            elif m == 0xDD:
                ri = int.from_bytes(seg[0:2], "big")
            elif m == 0xDA:
                if comps is None:
                    raise ValueError("malformed JPEG: SOS before SOF2")
                ns = seg[0]
                scan_comps = []
                for c in range(ns):
                    cs = seg[1 + 2 * c]
                    if cs not in comp_ids:
                        raise ValueError(
                            "malformed JPEG: SOS component selectors do not "
                            "match SOF2 component ids"
                        )
                    scan_comps.append(
                        (
                            comp_ids.index(cs),
                            seg[2 + 2 * c] >> 4,
                            seg[2 + 2 * c] & 15,
                        )
                    )
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                ah, al = ahal >> 4, ahal & 15
                if ss == 0 and se != 0:
                    raise ValueError("malformed progressive JPEG: DC scan Se != 0")
                if ss > se or se > 63:
                    raise ValueError("malformed progressive JPEG: bad band")
                start = i + 2 + seg_len
                end = entropy_end(start)
                data = payload[start:end].replace(b"\xff\x00", b"\xff")
                decode_scan(scan_comps, ss, se, ah, al, data)
                i = end
                continue
            i += 2 + seg_len
        if coef is None:
            raise ValueError("malformed JPEG: missing SOF2")
        mat = _jpeg_idct_mat()
        hmax = max(c[0] for c in comps)
        vmax = max(c[1] for c in comps)
        zz_nat = np.array([zz[k] for k in range(64)])
        planes = []
        for ci, (hc, vc, tq) in enumerate(comps):
            q = np.array(qt[tq], dtype=np.float64)
            bh_p, bw_p = coef[ci].shape[:2]
            plane = np.zeros((bh_p * 8, bw_p * 8), dtype=np.uint8)
            for by in range(bh_p):
                for bx in range(bw_p):
                    dq = np.zeros(64)
                    dq[zz_nat] = coef[ci][by, bx] * q  # zigzag → natural
                    px = mat.T @ dq.reshape(8, 8) @ mat + 128.0
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                        np.round(px), 0, 255
                    ).astype(np.uint8)
            planes.append(plane)
    except (IndexError, KeyError, ValueError) as e:
        if isinstance(e, ValueError):
            raise
        raise ValueError(f"malformed JPEG: {type(e).__name__} ({e})") from e
    return _jpeg_assemble(comps, planes, w, h, hmax, vmax)


def decode_image(payload: bytes):
    """Decode a binary P6 PPM, uncompressed 24-bit BMP, or 8-bit
    truecolor PNG.

    Returns ``(fmt, width, height, arr)`` with ``arr`` an (h, w, 3) uint8
    array in the format's STORAGE channel order (PPM/PNG: RGB; BMP: BGR,
    rows un-flipped to top-down; JPEG grayscale replicated to 3). PPM/BMP
    are pure NumPy; PNG inflates through stdlib zlib and defilters all
    five scanline filters; baseline grayscale JPEG runs a full
    Huffman/dequant/IDCT decode, including 4:2:2/4:2:0 subsampled chroma
    and restart intervals — all with no codec libraries. Variants
    needing more (progressive JPEG, WebP, …) raise ValueError (route
    those rows to codec-equipped executors in production)."""
    import numpy as np

    if payload[:8] == PNG_SIG:
        w, h, arr = _decode_png(payload)
        return "png", w, h, arr

    if payload[:2] == b"\xff\xd8":
        w, h, arr = _decode_jpeg(payload)
        return "jpeg", w, h, arr

    if payload[:6] in GIF_SIGS:
        w, h, arr = _decode_gif(payload)
        return "gif", w, h, arr

    if payload[:2] == b"P6":
        # ASCII header: magic, width, height, maxval — '#' comments allowed
        tokens, i = [], 2
        while len(tokens) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        i += 1  # single whitespace byte after maxval
        w, h, maxval = tokens
        if maxval > 255:
            raise ValueError("16-bit PPM not supported")
        arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
        return "ppm", w, h, arr.reshape(h, w, 3)
    if payload[:2] == b"BM":
        import struct

        data_off = struct.unpack_from("<I", payload, 10)[0]
        w, h_signed = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
        if bpp != 24 or compression != 0:
            raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
        h = abs(h_signed)
        stride = (w * 3 + 3) // 4 * 4  # rows padded to 4 bytes
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)[:, : w * 3]
        arr = rows.reshape(h, w, 3)
        if h_signed > 0:  # bottom-up storage (the common case)
            arr = arr[::-1]
        return "bmp", w, h, arr
    raise ValueError(
        "unsupported image format: decodable formats here are P6 PPM, "
        "uncompressed 24-bit BMP, 8-bit truecolor PNG, and baseline "
        "grayscale JPEG; other codecs need codec libraries"
    )


def synth_png(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic COMPRESSED image fixture: every doc becomes an 8-bit
    truecolor PNG whose raw pixel byte k is ``(d*11 + k) % 256``; scanline
    r is stored under filter ``r % 5``, so decoding exercises all five
    PNG filters and the zlib inflate path, while the DuckDB oracle
    recomputes channel means from the modular rule without touching
    binary. Real chunk layout (IHDR/IDAT/IEND with CRCs)."""
    import struct
    import zlib

    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 4
                stride = w * 3
                raw = ((d * 11 + np.arange(h * stride)) % 256).astype(np.uint8).reshape(h, stride)
                lines, prev = [], np.zeros(stride, dtype=np.uint8)
                for r in range(h):
                    row, f = raw[r], r % 5
                    if f == 0:
                        filt = row.copy()
                    elif f == 1:
                        filt = row.copy()
                        filt[3:] = (row[3:].astype(int) - row[:-3].astype(int)) & 0xFF
                    elif f == 2:
                        filt = ((row.astype(int) - prev.astype(int)) & 0xFF).astype(np.uint8)
                    elif f == 3:
                        filt = np.empty_like(row)
                        for x in range(stride):
                            left = int(row[x - 3]) if x >= 3 else 0
                            filt[x] = (int(row[x]) - (left + int(prev[x])) // 2) & 0xFF
                    else:
                        filt = np.empty_like(row)
                        for x in range(stride):
                            a = int(row[x - 3]) if x >= 3 else 0
                            c = int(prev[x - 3]) if x >= 3 else 0
                            filt[x] = (int(row[x]) - _png_paeth(a, int(prev[x]), c)) & 0xFF
                    lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
                    prev = row
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
                payloads.append(
                    PNG_SIG
                    + _chunk(b"IHDR", ihdr)
                    + _chunk(b"IDAT", zlib.compress(b"".join(lines)))
                    + _chunk(b"IEND", b"")
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


# Annex K luminance DC table (BITS, HUFFVAL) — the fixture writes it into
# DHT and the decoder rebuilds it from the file, so parity never depends on
# this constant being "the" standard table, only on it being a valid one.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
# compact AC table: EOB + run-0 sizes 1..6 (all the fixture and the AC
# pytest need; any canonical table is legal JPEG)
_JPEG_AC_BITS = [0, 2, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = [0x00, 0x01, 0x02, 0x03, 0x04, 0x05, 0x06]
_JPEG_Q = 16  # uniform quant table entry
# progressive AC table: EOBRUN codes (r<<4, r 0..14), ZRL (0xF0), and
# (run<<4)|size for run 0..15 × size 1..4 — 80 symbols, all at canonical
# length 8 (codes 0..79; the all-ones code is never assigned)
_JPEG_PAC_BITS = [0, 0, 0, 0, 0, 0, 0, 80, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PAC_VALS = sorted(
    {(r << 4) | s for r in range(16) for s in range(1, 5)}
    | {r << 4 for r in range(15)}
    | {0xF0}
)


class _JpegBitWriter:
    """MSB-first bit accumulator with JPEG FF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, size: int):
        for i in range(size - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = self.nbits = 0

    def done(self) -> bytes:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)

    def restart_marker(self, n: int):
        """Byte-align (1-padding, stuffing applies) then emit RSTn RAW —
        restart markers are the one FF the entropy stream must NOT stuff."""
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        self.out += bytes([0xFF, 0xD0 + (n % 8)])


def _jpeg_huff_codes(bits, vals) -> dict:
    """{value: (code, length)} — the encoder-side view of the canonical
    table :func:`_jpeg_huff_table` builds for the decoder."""
    return {v: (c, ln) for (ln, c), v in _jpeg_huff_table(bits, vals).items()}


def _encode_jpeg(
    comp_dcs, bw: int, bh: int, ac_blocks=None, samp=None, restart_interval: int = 0
) -> bytes:
    """A REAL baseline JPEG (grayscale, 4:4:4, or subsampled 4:2:2/4:2:0
    color) from per-component QUANTIZED DC coefficient lists in entropy
    write order (and optional component-0 {block: [(zigzag_k, level),
    ...]} AC coefficients): DQT/DHT/SOF0/SOS marker layout, canonical
    Huffman entropy coding with per-component DC prediction, MCU
    interleave (hc×vc blocks per component per MCU), byte stuffing.
    ``bw``/``bh`` count MCUs; ``samp`` gives (h, v) factors per component
    (default all 1×1, where MCU == block). Lossy-codec fixtures can't use
    the raw-byte modular rule the other formats use — but the entropy
    stage is LOSSLESS over quantized coefficients, so driving those from
    the rule keeps decode output exactly computable. All components share
    quant table 0 and Huffman pair 0 (legal JPEG)."""
    import struct

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    nc = len(comp_dcs)
    samp = samp or [(1, 1)] * nc
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    w, h = bw * 8 * hmax, bh * 8 * vmax

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([_JPEG_Q] * 64))
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    )
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, nc)
        + b"".join(
            bytes([c + 1, (samp[c][0] << 4) | samp[c][1], 0]) for c in range(nc)
        ),
    )
    dht = seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)) + seg(
        0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sos_hdr = seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([c + 1, 0x00]) for c in range(nc))
        + bytes([0, 63, 0]),
    )

    bwr = _JpegBitWriter()
    preds = [0] * nc
    consumed = [0] * nc  # next DC index per component, entropy write order
    for _m in range(bw * bh):
        if restart_interval and _m and _m % restart_interval == 0:
            bwr.restart_marker(_m // restart_interval - 1)
            preds = [0] * nc
        for ci in range(nc):
            hc, vc = samp[ci]
            for _blk in range(hc * vc):
                b = consumed[ci]
                consumed[ci] += 1
                diff = int(comp_dcs[ci][b]) - preds[ci]
                preds[ci] = int(comp_dcs[ci][b])
                s = diff.bit_length() if diff > 0 else (-diff).bit_length()
                code, ln = dc_codes[s]
                bwr.put(code, ln)
                if s:
                    bwr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
                last_k = 0
                acs = (ac_blocks or {}).get(b, []) if ci == 0 else []
                for k, level in sorted(acs):
                    run = k - last_k - 1  # zero-run gap from the previous index
                    last_k = k
                    s2 = level.bit_length() if level > 0 else (-level).bit_length()
                    code, ln = ac_codes[(run << 4) | s2]  # compact table: run 0 only
                    bwr.put(code, ln)
                    bwr.put(level if level > 0 else level + (1 << s2) - 1, s2)
                code, ln = ac_codes[0x00]  # EOB
                bwr.put(code, ln)
    return b"\xff\xd8" + dqt + dri + sof + dht + sos_hdr + bwr.done() + b"\xff\xd9"


def encode_jpeg_gray(dc_quantized, bw: int, bh: int, ac_blocks=None) -> bytes:
    """Grayscale wrapper over :func:`_encode_jpeg`."""
    return _encode_jpeg([dc_quantized], bw, bh, ac_blocks=ac_blocks)


def _encode_jpeg_progressive(
    comp_coef, w: int, h: int, samp=None, dc_al: int = 1, ac_al: int = 1,
    bands=((1, 5), (6, 63)),
) -> bytes:
    """A REAL progressive JPEG (SOF2) from per-component QUANTIZED
    coefficient grids ``comp_coef[ci]`` — numpy int arrays of shape
    (block_rows_padded, block_cols_padded, 64) in ZIGZAG order. Scan
    script (T.81 Annex G): one DC first scan at Al=``dc_al`` (interleaved
    when nc>1, arithmetic-shift point transform), ``dc_al`` DC refine
    scans of one raw bit per block, then per component per spectral
    ``band`` an AC first scan at Al=``ac_al`` (sign-magnitude point
    transform, cross-block EOBRUN accumulation) and ``ac_al`` AC refine
    scans implementing the G.1.2.3 correction-bit stream — including the
    buffered-per-block EOBRUN correction bits and ZRL interleaving the
    decoder's advance loop expects. Lossless over quantized coefficients,
    so fixtures keep exact oracles; first-scan AC magnitudes above size 4
    exceed the compact table and raise (fixture-scale contract, like the
    baseline encoder)."""
    import struct

    import numpy as np

    nc = len(comp_coef)
    samp = samp or [(1, 1)] * nc
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mx = (w + 8 * hmax - 1) // (8 * hmax)
    my = (h + 8 * vmax - 1) // (8 * vmax)
    nonint = [
        ((-(-(h * vc) // vmax) + 7) // 8, (-(-(w * hc) // hmax) + 7) // 8)
        for hc, vc in samp
    ]
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_PAC_BITS, _JPEG_PAC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def sos_hdr(comp_list, ss, se, ah, al):
        return seg(
            0xDA,
            bytes([len(comp_list)])
            + b"".join(bytes([c + 1, 0x00]) for c in comp_list)
            + bytes([ss, se, (ah << 4) | al]),
        )

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([_JPEG_Q] * 64))
    out += seg(
        0xC2,
        struct.pack(">BHHB", 8, h, w, nc)
        + b"".join(
            bytes([c + 1, (samp[c][0] << 4) | samp[c][1], 0]) for c in range(nc)
        ),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_JPEG_PAC_BITS) + bytes(_JPEG_PAC_VALS))

    def dc_blocks():
        # same walk the decoder uses: interleaved MCU order when nc>1,
        # raster over the (single) component's own block grid otherwise
        if nc > 1:
            for m_i in range(mx * my):
                myi, mxi = divmod(m_i, mx)
                for ci, (hc, vc) in enumerate(samp):
                    for vy in range(vc):
                        for vx in range(hc):
                            yield ci, myi * vc + vy, mxi * hc + vx
        else:
            bh_c, bw_c = nonint[0]
            for b in range(bh_c * bw_c):
                yield 0, b // bw_c, b % bw_c

    # --- DC first scan (arithmetic-shift point transform) ---
    bwr = _JpegBitWriter()
    preds = [0] * nc
    for ci, by, bx in dc_blocks():
        v = int(comp_coef[ci][by, bx, 0]) >> dc_al
        diff = v - preds[ci]
        preds[ci] = v
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, ln = dc_codes[s]
        bwr.put(code, ln)
        if s:
            bwr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    out += sos_hdr(list(range(nc)), 0, 0, 0, dc_al) + bwr.done()

    # --- DC refine scans: one raw bit per block per Al level ---
    for al in range(dc_al - 1, -1, -1):
        bwr = _JpegBitWriter()
        for ci, by, bx in dc_blocks():
            bwr.put((int(comp_coef[ci][by, bx, 0]) >> al) & 1, 1)
        out += sos_hdr(list(range(nc)), 0, 0, al + 1, al) + bwr.done()

    # --- AC scans: per component, per spectral band ---
    for ci in range(nc):
        bh_c, bw_c = nonint[ci]

        # AC first at Al=ac_al (sign-magnitude point transform)
        bwr = _JpegBitWriter()
        eobrun = 0

        def flush_first():
            nonlocal eobrun
            while eobrun > 0:
                r = min(14, eobrun.bit_length() - 1)
                run = min(eobrun, (1 << r) + ((1 << r) - 1))
                code, ln = ac_codes[r << 4]
                bwr.put(code, ln)
                if r:
                    bwr.put(run - (1 << r), r)
                eobrun -= run

        for ss, se in bands:
            for b in range(bh_c * bw_c):
                blk = comp_coef[ci][b // bw_c, b % bw_c]
                items = []
                for k in range(ss, se + 1):
                    v = int(blk[k])
                    mag = abs(v) >> ac_al
                    if mag:
                        items.append((k, mag if v > 0 else -mag))
                if not items:
                    eobrun += 1
                    continue
                flush_first()
                last = ss - 1
                for k, v in items:
                    run = k - last - 1
                    last = k
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bwr.put(code, ln)
                        run -= 16
                    s2 = v.bit_length() if v > 0 else (-v).bit_length()
                    if s2 > 4:
                        raise ValueError(
                            "progressive fixture encoder: AC first-scan "
                            f"magnitude size {s2} exceeds the compact table"
                        )
                    code, ln = ac_codes[(run << 4) | s2]
                    bwr.put(code, ln)
                    bwr.put(v if v > 0 else v + (1 << s2) - 1, s2)
                if last < se:
                    eobrun += 1
            flush_first()
            out += sos_hdr([ci], ss, se, 0, ac_al) + bwr.done()
            bwr = _JpegBitWriter()

            # AC refine scans down to Al=0
            for al in range(ac_al - 1, -1, -1):
                p_hist = al + 1
                eob_blocks: list = []  # per-block buffered correction bits

                def flush_refine():
                    nonlocal eob_blocks
                    idx = 0
                    while idx < len(eob_blocks):
                        left = len(eob_blocks) - idx
                        r = min(14, left.bit_length() - 1)
                        chunk = min(left, (1 << r) + ((1 << r) - 1))
                        code, ln = ac_codes[r << 4]
                        bwr.put(code, ln)
                        if r:
                            bwr.put(chunk - (1 << r), r)
                        for bl in eob_blocks[idx : idx + chunk]:
                            for bit_ in bl:
                                bwr.put(bit_, 1)
                        idx += chunk
                    eob_blocks = []

                for b in range(bh_c * bw_c):
                    blk = comp_coef[ci][b // bw_c, b % bw_c]

                    def info(k):
                        v = int(blk[k])
                        mag = abs(v)
                        return mag >> p_hist, (mag >> al) & 1, v > 0

                    # does this block introduce any new coefficient?
                    has_new = any(
                        info(k)[0] == 0 and info(k)[1]
                        for k in range(ss, se + 1)
                    )
                    if not has_new:
                        # pure EOBRUN member: its correction bits (for
                        # history-nonzero coefs) are buffered and emitted
                        # after the run's EOB code, in block order
                        eob_blocks.append(
                            [info(k)[1] for k in range(ss, se + 1) if info(k)[0]]
                        )
                        continue
                    flush_refine()
                    cursor = ss
                    while True:
                        # locate the next new coefficient; count the
                        # zero-history zeros before it
                        run = 0
                        j = cursor
                        newpos = None
                        while j <= se:
                            hist, bit_al, _pos = info(j)
                            if hist == 0:
                                if bit_al:
                                    newpos = j
                                    break
                                run += 1
                            j += 1
                        if newpos is None:
                            break
                        # ZRL chains: each consumes 16 zero-history zeros,
                        # with correction bits of history-nonzero coefs
                        # interleaved exactly as the decoder's advance reads
                        while run > 15:
                            code, ln = ac_codes[0xF0]
                            bwr.put(code, ln)
                            zeros = 0
                            while zeros < 16:
                                hist, bit_al, _pos = info(cursor)
                                if hist:
                                    bwr.put(bit_al, 1)
                                else:
                                    zeros += 1
                                cursor += 1
                            run -= 16
                        code, ln = ac_codes[(run << 4) | 1]
                        bwr.put(code, ln)
                        bwr.put(1 if info(newpos)[2] else 0, 1)
                        for j in range(cursor, newpos):
                            hist, bit_al, _pos = info(j)
                            if hist:
                                bwr.put(bit_al, 1)
                        cursor = newpos + 1
                    if cursor <= se:
                        # partial tail: this block STARTS a new EOB run;
                        # its remaining correction bits ride in the buffer
                        eob_blocks.append(
                            [
                                info(k)[1]
                                for k in range(cursor, se + 1)
                                if info(k)[0]
                            ]
                        )
                flush_refine()
                out += sos_hdr([ci], ss, se, al + 1, al) + bwr.done()
                bwr = _JpegBitWriter()

    return bytes(out) + b"\xff\xd9"


def synth_jpeg(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic LOSSY-container fixture: every doc becomes a baseline
    grayscale JPEG of (1+d%3)×(1+d%2) 8×8 blocks whose quantized DC
    coefficient for block b is ``((d*7 + b*3) % 33) - 16`` and whose AC
    coefficients are zero — a DC-only block inverse-transforms to the
    constant ``128 + 2·DCq`` (F(0,0)/8 level-shifted, exact integers with
    the uniform q=16 table), so the DuckDB oracle recomputes per-image
    means from the modular rule while the decoder must really run the
    Huffman/DC-prediction/dequant/IDCT pipeline to land on them."""

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                bw, bh = 1 + d % 3, 1 + d % 2
                dcs = [((d * 7 + b * 3) % 33) - 16 for b in range(bw * bh)]
                payloads.append(encode_jpeg_gray(dcs, bw, bh))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def synth_jpeg_color(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic 4:4:4 COLOR JPEG fixture: per doc, per 8×8 block b,
    quantized DC coefficients DCy = ((d·7+b·3)%33)−16,
    DCcb = ((d·5+b·11)%21)−10, DCcr = ((d·13+b·17)%25)−12 (AC zero), so
    each block decodes to constant Y/Cb/Cr = 128+2·DC and the JFIF
    transform gives per-block RGB constants the DuckDB oracle recomputes
    arithmetically. Every fixture value sits ≥ 0.004 from a round-half
    boundary (checked exhaustively), so NumPy's round-half-even and SQL
    ROUND's half-away can never disagree."""

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                bw, bh = 1 + d % 3, 1 + d % 2
                nb = bw * bh
                dcy = [((d * 7 + b * 3) % 33) - 16 for b in range(nb)]
                dcb = [((d * 5 + b * 11) % 21) - 10 for b in range(nb)]
                dcr = [((d * 13 + b * 17) % 25) - 12 for b in range(nb)]
                payloads.append(_encode_jpeg([dcy, dcb, dcr], bw, bh))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def synth_jpeg_420(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic 4:2:0 SUBSAMPLED color JPEG fixture: per doc an
    (1+d%2)×(1+d%3) MCU grid; each MCU carries four Y blocks (2×2) and
    one Cb/Cr block. Quantized DCs: Y block b (entropy order, b = 4·m+s)
    gets ((d·7+b·3)%33)−16; chroma of MCU m gets ((d·5+m·11)%21)−10 /
    ((d·13+m·17)%25)−12. DC-only blocks decode to constant planes, the
    nearest-replication upsample makes chroma constant per MCU, and the
    JFIF transform gives per-(Y-block) RGB constants the oracle
    recomputes arithmetically (all values ≥0.004 from a round-half
    boundary, checked exhaustively)."""

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                mw, mh = 1 + d % 2, 1 + d % 3
                nm = mw * mh
                dcy = [((d * 7 + b * 3) % 33) - 16 for b in range(4 * nm)]
                dcb = [((d * 5 + m * 11) % 21) - 10 for m in range(nm)]
                dcr = [((d * 13 + m * 17) % 25) - 12 for m in range(nm)]
                # restart_interval exercises the DRI/RSTn path in the
                # ORACLED query: predictor resets change the entropy
                # bytes but not the decoded values, so the oracle's
                # modular rule is untouched
                payloads.append(
                    _encode_jpeg(
                        [dcy, dcb, dcr],
                        mw,
                        mh,
                        samp=[(2, 2), (1, 1), (1, 1)],
                        restart_interval=2,
                    )
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def synth_jpeg_prog(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic PROGRESSIVE (SOF2) grayscale JPEG fixture — same
    geometry and quantized-DC modular rule as :func:`synth_jpeg`
    (``((d*7 + b*3) % 33) - 16`` per block, AC zero) but encoded as a
    T.81 Annex G scan script: DC first at Al=1, DC refine to Al=0, and
    per spectral band (1..5, 6..63) an AC first scan at Al=1 plus an AC
    refine to Al=0. With AC zero the band scans are pure EOBRUN streams
    — the decoder must still walk every scan, merge the successive DC
    approximations bit-by-bit, and consume cross-block EOB runs in BOTH
    first and refine forms to land on the same 128 + 2·DCq constants, so
    the multimodal_jpeg oracle arithmetic carries over unchanged (the
    nonzero-AC progressive paths are pinned by the pytest roundtrips)."""
    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                bw, bh = 1 + d % 3, 1 + d % 2
                coef = np.zeros((bh, bw, 64), dtype=np.int64)
                for b in range(bw * bh):
                    coef[b // bw, b % bw, 0] = ((d * 7 + b * 3) % 33) - 16
                payloads.append(_encode_jpeg_progressive([coef], bw * 8, bh * 8))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def synth_images(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic codec-free image fixture: even doc_id → P6 PPM, odd →
    24-bit BMP (width a multiple of 4 so rows need no padding — the decoder
    handles padding; the ORACLE formula stays pure modular arithmetic).
    Pixel byte k of doc d is ``(d*7 + k) % 256`` in storage order, so the
    DuckDB oracle can recompute header dims and channel means exactly."""
    import struct

    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                h = 3 + d % 4
                if d % 2 == 0:
                    w = 4 + d % 5
                    pix = ((d * 7 + np.arange(w * h * 3)) % 256).astype(np.uint8)
                    payloads.append(b"P6\n%d %d\n255\n" % (w, h) + pix.tobytes())
                else:
                    w = 4 + 4 * (d % 3)  # multiple of 4 → stride == w*3
                    pix = ((d * 7 + np.arange(w * h * 3)) % 256).astype(np.uint8)
                    hdr = (
                        b"BM"
                        + struct.pack("<IHHI", 54 + w * h * 3, 0, 0, 54)
                        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
                    )
                    payloads.append(hdr + pix.tobytes())
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def decode_image_features(media: DataFrame) -> DataFrame:
    """mapInPandas REAL-decode kernel: parse each payload's header + pixel
    array (:func:`decode_image`) and emit per-image width/height and
    storage-order channel means (order-invariant, so BMP's bottom-up rows
    don't matter). This is the de-stubbed path: dimensions come from the
    binary header, not metadata columns.

    Unsupported or malformed payloads (the decoders' ValueError routing
    contract) degrade PER ROW — ``fmt='error'`` with NULL dims/means —
    instead of killing the whole Arrow batch: one corrupt crawl image
    must not fail the task. Filter ``fmt = 'error'`` downstream to route
    those rows to codec-equipped executors."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("media_id", "fmt", "width", "height", "c0_mean", "c1_mean", "c2_mean")}
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                rows["media_id"].append(int(mid))
                try:
                    fmt, w, h, arr = decode_image(bytes(b))
                except ValueError:
                    rows["fmt"].append("error")
                    for k in ("width", "height", "c0_mean", "c1_mean", "c2_mean"):
                        rows[k].append(None)
                    continue
                means = arr.reshape(-1, 3).mean(axis=0, dtype="float64").round(6)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["c0_mean"].append(float(means[0]))
                rows["c1_mean"].append(float(means[1]))
                rows["c2_mean"].append(float(means[2]))
            yield pd.DataFrame(rows, dtype=object)

    return media.mapInPandas(_batches, IMG_FEATURE_SCHEMA)


def extract_features(media: DataFrame, feat_dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The *feature kernel* is a deterministic fake (byte-histogram moments) —
    the real decode hook is :func:`decode_image` (stubbed). The Spark
    plumbing (Arrow batching, schema, per-batch vectorisation) is the part
    that matters at scale and is fully real.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            feats = []
            for b in pdf["payload"]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                if len(arr) == 0:
                    arr = np.zeros(1, dtype=np.uint8)
                chunks = np.array_split(arr.astype(np.float64), feat_dim)
                feats.append([float(np.round(c.mean() if len(c) else 0.0, 4)) for c in chunks])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(bytes(b))),
                    "feature": feats,
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: RIFF/WAVE PCM16 — the second codec-free format a pure-NumPy
# container can decode for real. The fixture synthesises samples by pure
# modular arithmetic (sample k of doc d = ((d*13 + k*7) % 4096) - 2048,
# interleaved over channels) so the DuckDB oracle recomputes per-channel
# mean/RMS exactly: integer sums < 2^53 are exact in double regardless of
# summation order. Compressed audio (MP3/AAC) raises toward codec-equipped
# executors, same routing as decode_image.
# ---------------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("c0_mean", DoubleType()),
        StructField("c0_rms", DoubleType()),
        StructField("c1_mean", DoubleType()),
        StructField("c1_rms", DoubleType()),
    ]
)


def synth_audio(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic RIFF/WAVE PCM16 fixture: doc d → 1 + d%2 channels,
    8 kHz, 200 + (d%5)*40 frames; interleaved sample k is
    ``((d*13 + k*7) % 4096) - 2048`` (int16-safe). Real header bytes, so
    the decoder is exercised end-to-end, and pure modular arithmetic, so
    the oracle recomputes features without parsing binary."""
    import struct

    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                ch = 1 + d % 2
                rate = 8000
                frames = 200 + (d % 5) * 40
                n = frames * ch
                samples = (((d * 13 + np.arange(n) * 7) % 4096) - 2048).astype("<i2")
                data = samples.tobytes()
                fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
                payload = (
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                payloads.append(payload)
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def decode_audio(payload: bytes):
    """Decode RIFF/WAVE PCM16: walk the chunk list (skipping unknown
    chunks, word-aligned), read channels/rate from ``fmt``, samples from
    ``data``. Returns ``(channels, rate, frames, arr)`` with ``arr``
    shaped (frames, channels) int16. Non-PCM or non-16-bit raises
    ValueError (route to codec-equipped executors in production)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("unsupported audio format: decodable here is RIFF/WAVE PCM16")
    i = 12
    ch = rate = bits = None
    data = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = struct.unpack_from("<I", payload, i + 4)[0]
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            audio_fmt, ch, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (fmt={audio_fmt}, bits={bits})")
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if ch is None or data is None:
        raise ValueError("missing fmt or data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    frames = len(samples) // ch
    return ch, rate, frames, samples[: frames * ch].reshape(frames, ch)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """mapInPandas REAL-decode kernel: parse each WAV payload
    (:func:`decode_audio`) and emit channels/rate/frames/duration plus
    per-channel mean and RMS (c1_* NULL for mono). Integer samples sum
    exactly in float64, so the 6-dp rounds are engine-portable."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            cols = ("media_id", "channels", "sample_rate", "n_frames", "duration_ms",
                    "c0_mean", "c0_rms", "c1_mean", "c1_rms")
            rows = {c: [] for c in cols}
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                ch, rate, frames, arr = decode_audio(bytes(b))
                a = arr.astype(np.float64)
                rows["media_id"].append(int(mid))
                rows["channels"].append(ch)
                rows["sample_rate"].append(rate)
                rows["n_frames"].append(frames)
                rows["duration_ms"].append(frames * 1000 // rate)
                for c in range(2):
                    if c < ch:
                        rows[f"c{c}_mean"].append(round(float(a[:, c].mean()), 6))
                        rows[f"c{c}_rms"].append(round(float(np.sqrt((a[:, c] ** 2).mean())), 6))
                    else:
                        rows[f"c{c}_mean"].append(None)
                        rows[f"c{c}_rms"].append(None)
            yield pd.DataFrame(rows)

    return media.mapInPandas(_batches, AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Resize (images) and frame-sample (video) — the remaining two multimodal
# kernels. Resize is nearest-neighbour with pure floor index mapping
# (source_y = ty*h // th) so the oracle can address source bytes by
# modular arithmetic; video is a codec-free RVID container (header +
# concatenated raw RGB frames) so frame extraction is real byte slicing.
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("rw", IntegerType()),
        StructField("rh", IntegerType()),
        StructField("c0_mean", DoubleType()),
        StructField("c1_mean", DoubleType()),
        StructField("c2_mean", DoubleType()),
    ]
)


def resize_nearest(arr, tw: int, th: int):
    """(th, tw, 3) nearest-neighbour resize of an (h, w, 3) array with
    floor mapping source_y = ty*h // th (up- and down-scaling)."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[np.ix_(ys, xs)]


def resize_image_features(media: DataFrame, tw: int = 8, th: int = 8) -> DataFrame:
    """mapInPandas kernel: REAL decode (:func:`decode_image`) → nearest-
    neighbour resize to (tw, th) → per-channel means of the RESIZED image
    (storage channel order; BMP rows are top-down after decode, so the
    row flip genuinely affects which source rows survive)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("media_id", "fmt", "rw", "rh", "c0_mean", "c1_mean", "c2_mean")}
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                fmt, _w, _h, arr = decode_image(bytes(b))
                r = resize_nearest(arr, tw, th)
                means = r.reshape(-1, 3).mean(axis=0, dtype="float64").round(6)
                rows["media_id"].append(int(mid))
                rows["fmt"].append(fmt)
                rows["rw"].append(tw)
                rows["rh"].append(th)
                for c in range(3):
                    rows[f"c{c}_mean"].append(float(means[c]))
            yield pd.DataFrame(rows)

    return media.mapInPandas(_batches, RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("f_mean", DoubleType()),
    ]
)


def synth_video(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic codec-free video fixture: ``RVID`` + <HHH n_frames,
    w, h> + n_frames concatenated raw RGB24 frames; body byte k of doc d
    is ``(d*11 + k) % 256`` across the whole frame region."""
    import struct

    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                nf, w, h = 6 + d % 5, 4 + d % 3, 2 + d % 3
                body = ((d * 11 + np.arange(nf * w * h * 3)) % 256).astype(np.uint8)
                payloads.append(b"RVID" + struct.pack("<HHH", nf, w, h) + body.tobytes())
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def sample_video_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """mapInPandas frame-sample kernel: parse the RVID header, slice out
    every ``every``-th raw frame (REAL byte addressing — no decode of the
    unsampled frames, the point of frame sampling), one output row per
    sampled frame with its pixel mean. Production swap-in: pyav keyframe
    iteration with the identical batch shape."""
    import struct

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = {"media_id": [], "frame_idx": [], "f_mean": []}
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(b)
                if b[:4] != b"RVID":
                    raise ValueError("unsupported video container (RVID raw RGB only here)")
                nf, w, h = struct.unpack_from("<HHH", b, 4)
                fsize = w * h * 3
                for f in range(0, nf, every):
                    frame = np.frombuffer(b, dtype=np.uint8, count=fsize, offset=10 + f * fsize)
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(f)
                    rows["f_mean"].append(round(float(frame.astype("float64").mean()), 6))
            yield pd.DataFrame(rows)

    return media.mapInPandas(_batches, FRAME_SCHEMA)


# ---------------------------------------------------------------- GIF tier
# GIF87a/89a (CompuServe spec; LZW per Welch 1984 as profiled by the GIF
# spec appendix): the remaining no-codec-library format real crawls carry.
# Same stdlib-only discipline as the PNG/JPEG decoders; same per-row
# ValueError routing contract.

GIF_SIGS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(mcs: int, data: bytes, max_out: int) -> bytearray:
    """GIF-variant LZW: codes packed LSB-first across the concatenated
    sub-block bytes; CLEAR resets the table and code width; table grows to
    4096 entries; KwKwK handles the just-defined-code case. Truncated or
    corrupt streams raise ValueError. Output capped at ``max_out``
    (decompression-bomb bound, same class as the PNG inflate cap)."""
    clear, end = 1 << mcs, (1 << mcs) + 1

    def fresh():
        return {i: bytes([i]) for i in range(clear)}

    table = fresh()
    next_code = end + 1
    width = mcs + 1
    codes_read = 0  # data codes since the last CLEAR
    out = bytearray()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                next_code = end + 1
                width = mcs + 1
                codes_read = 0
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise ValueError("malformed GIF: first code not in table")
            elif code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError("malformed GIF: LZW code out of range")
            out += entry
            if len(out) > max_out:
                raise ValueError("malformed GIF: LZW output exceeds pixel count")
            if prev is not None and next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
            prev = entry
            # width sync: the ENCODER defines one entry per emitted code
            # (including the first after CLEAR, which the decoder cannot
            # define) — so its table runs one ahead of ours and width must
            # key off codes READ, not entries defined (giflib RunningCode)
            codes_read += 1
            if end + 1 + codes_read == (1 << width) and width < 12:
                width += 1
    # Boundary case: the encoder defines NO table entry for its final data
    # code, so when that code is exactly the (2^width - end - 1)th since
    # CLEAR the decoder's width runs one past the encoder's and END was
    # written one bit narrower than we now expect. If the stream also ends
    # on a byte boundary there is no padding bit to borrow and the loop
    # exits with END's bits still in ``acc`` — zero-extended they can only
    # equal END (valid streams pad the final byte with zero bits), so
    # accept that as the terminator instead of rejecting a valid stream.
    # Only exactly width - 1 leftover bits are that case: fewer bits that
    # happen to read as END are a truncated stream.
    if nbits == width - 1 and acc == end:
        return out
    raise ValueError("malformed GIF: LZW stream ended without END code")


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(h: int) -> list:
    rows = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return rows


def _decode_gif_frames(payload: bytes, max_frames: int | None = None):
    """All image blocks of a GIF87a/89a: header + logical screen
    descriptor, skip 89a extension blocks; per image descriptor —
    local color table honored (else global), LZW decompress,
    deinterlace when flagged, palette → (w, h, (h,w,3) uint8 RGB).
    Frames are the STORED rects (animation compositing/disposal is out
    of scope — per-frame feature extraction and frame sampling operate
    on stored frames). ``max_frames`` bounds work for sampling callers.
    Yields at least one frame or raises ValueError."""
    import struct

    import numpy as np

    if payload[:6] not in GIF_SIGS:
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("malformed GIF: truncated screen descriptor")
    _sw, _sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    i = 13
    gct = None
    if flags & 0x80:
        gct_len = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, gct_len * 3, i).reshape(-1, 3)
        i += gct_len * 3
    frames = []
    while i < len(payload):
        b = payload[i]
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(payload) and payload[i] != 0:
                i += 1 + payload[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            if i + 10 > len(payload):
                raise ValueError("malformed GIF: truncated image descriptor")
            _x, _y, w, h, iflags = struct.unpack_from("<HHHHB", payload, i + 1)
            i += 10
            table = gct
            if iflags & 0x80:
                lct_len = 2 << (iflags & 0x07)
                table = np.frombuffer(payload, np.uint8, lct_len * 3, i).reshape(-1, 3)
                i += lct_len * 3
            if table is None:
                raise ValueError("malformed GIF: no color table")
            if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
                raise ValueError(f"GIF dimensions out of bounds ({w}x{h})")
            if i >= len(payload):
                raise ValueError("malformed GIF: missing LZW minimum code size")
            mcs = payload[i]
            if not 2 <= mcs <= 11:
                raise ValueError(f"malformed GIF: bad LZW code size {mcs}")
            i += 1
            data = bytearray()
            while i < len(payload) and payload[i] != 0:
                ln = payload[i]
                data += payload[i + 1 : i + 1 + ln]
                i += 1 + ln
            i += 1  # block terminator
            idx = np.frombuffer(
                bytes(_gif_lzw_decode(mcs, bytes(data), w * h)), np.uint8
            )
            if len(idx) < w * h:
                raise ValueError("malformed GIF: not enough pixels")
            if (idx >= len(table)).any():
                raise ValueError("malformed GIF: palette index out of range")
            img = table[idx[: w * h]].reshape(h, w, 3)
            if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
                order = _gif_interlace_order(h)
                out = np.empty_like(img)
                out[order] = img
                img = out
            frames.append((w, h, img))
            if max_frames is not None and len(frames) >= max_frames:
                return frames
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"malformed GIF: unknown block 0x{b:02x}")
    if not frames:
        raise ValueError("malformed GIF: no image descriptor")
    return frames


def _decode_gif(payload: bytes):
    """First frame of a GIF87a/89a — see :func:`_decode_gif_frames`."""
    w, h, img = _decode_gif_frames(payload, max_frames=1)[0]
    return w, h, img


def _gif_lzw_encode(mcs: int, indices: bytes) -> bytes:
    """Real GIF LZW encoder (dict growth, width growth, 4096 reset) — the
    fixture writer; roundtrips against :func:`_gif_lzw_decode` in tests."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = mcs + 1
    emit(clear, width)
    cur = b""
    for byte in indices:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # lockstep with the decoder: width grows once the table size
            # REACHES 2^width (checked after the increment on both sides)
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = mcs + 1
        cur = bytes([byte])
    if cur:
        emit(table[cur], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def synth_gif(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic LZW-compressed image fixture: palette entry j channel
    c is ``(d*11 + j*3 + c) % 256`` and pixel k's palette index is
    ``(d*7 + k) % 16``, so the logical pixel byte rule stays
    SQL-expressible through the palette indirection. Every other image is
    stored INTERLACED (same logical pixels — the oracle is layout-blind,
    the decoder must deinterlace). Real container: header, screen
    descriptor, global 16-color table, 89a graphic-control extension,
    image descriptor, sub-blocked LZW stream, trailer."""
    import struct

    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 4
                pal = ((d * 11 + np.arange(16 * 3)) % 256).astype(np.uint8)
                idx = ((d * 7 + np.arange(w * h)) % 16).astype(np.uint8)
                interlaced = d % 2 == 1
                stored = idx.reshape(h, w)
                if interlaced:
                    stored = stored[_gif_interlace_order(h)]
                lzw = _gif_lzw_encode(4, stored.tobytes())
                blocks = bytearray()
                for off in range(0, len(lzw), 255):
                    chunk = lzw[off : off + 255]
                    blocks += bytes([len(chunk)]) + chunk
                blocks += b"\x00"
                payloads.append(
                    b"GIF89a"
                    + struct.pack("<HHBBB", w, h, 0x80 | 0x03, 0, 0)  # 16-color GCT
                    + pal.tobytes()
                    + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
                    + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
                    + bytes([4])  # LZW minimum code size
                    + bytes(blocks)
                    + b"\x3b"
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def synth_gif_anim(docs: DataFrame, limit: int = 40) -> DataFrame:
    """Deterministic ANIMATED GIF fixture: 2 + d%3 full-frame images per
    container, frame f's pixel k palette index = ``(d*7 + f*5 + k) % 16``
    over the same modular 16-color palette as :func:`synth_gif`; odd
    frames stored interlaced; an 89a graphic-control extension precedes
    every frame (real animation layout)."""
    import struct

    import numpy as np

    base = docs.select("doc_id").orderBy("doc_id").limit(limit)

    def _make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 4
                n_frames = 2 + d % 3
                pal = ((d * 11 + np.arange(16 * 3)) % 256).astype(np.uint8)
                body = bytearray()
                for f in range(n_frames):
                    idx = ((d * 7 + f * 5 + np.arange(w * h)) % 16).astype(np.uint8)
                    interlaced = f % 2 == 1
                    stored = idx.reshape(h, w)
                    if interlaced:
                        stored = stored[_gif_interlace_order(h)]
                    lzw = _gif_lzw_encode(4, stored.tobytes())
                    blocks = bytearray()
                    for off in range(0, len(lzw), 255):
                        chunk = lzw[off : off + 255]
                        blocks += bytes([len(chunk)]) + chunk
                    blocks += b"\x00"
                    body += b"\x21\xf9\x04\x00\x04\x00\x00\x00"  # GCE, 4cs delay
                    body += b"\x2c" + struct.pack(
                        "<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0
                    )
                    body += bytes([4]) + bytes(blocks)
                payloads.append(
                    b"GIF89a"
                    + struct.pack("<HHBBB", w, h, 0x80 | 0x03, 0, 0)
                    + pal.tobytes()
                    + bytes(body)
                    + b"\x3b"
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return base.mapInPandas(_make, "media_id long, payload binary")


def gif_frame_features(media: DataFrame, max_frames: int | None = None) -> DataFrame:
    """mapInPandas per-FRAME decode of animated GIFs: one output row per
    stored frame with its dims + channel means — the container-native
    twin of the synthetic frame-sampling op (`multimodal_frames`), so a
    sampling pass can pick every Nth frame of real crawl media. Same
    per-row ValueError routing contract (``frame_idx = -1`` error row)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {
                k: []
                for k in (
                    "media_id", "frame_idx", "n_frames", "width", "height",
                    "c0_mean", "c1_mean", "c2_mean",
                )
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    frames = _decode_gif_frames(bytes(b), max_frames=max_frames)
                except ValueError:
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(-1)
                    for k in ("n_frames", "width", "height", "c0_mean", "c1_mean", "c2_mean"):
                        rows[k].append(None)
                    continue
                for fi, (w, h, arr) in enumerate(frames):
                    means = arr.reshape(-1, 3).mean(axis=0, dtype="float64").round(6)
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(fi)
                    rows["n_frames"].append(len(frames))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["c0_mean"].append(float(means[0]))
                    rows["c1_mean"].append(float(means[1]))
                    rows["c2_mean"].append(float(means[2]))
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _batches,
        "media_id long, frame_idx int, n_frames int, width int, height int, "
        "c0_mean double, c1_mean double, c2_mean double",
    )
