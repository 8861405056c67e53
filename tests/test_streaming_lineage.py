"""Structured Streaming ingest parity with batch, resumable-ledger runs,
and multimodal mapInPandas plumbing."""

import pytest
from pyspark.sql import functions as F

from rasters_jl_spark.functions.multimodal import extract_features, synth_media
from rasters_jl_spark.plans.lineage import remaining_tiles, run_tiles_resumable
from rasters_jl_spark.sources.pages import geotag_pages
from rasters_jl_spark.streaming.ingest import start_ingest, windowed_cell_counts


@pytest.fixture()
def tmpdir(tmp_path):
    return str(tmp_path)


def test_streaming_matches_batch(spark, sf_dir, tmpdir):
    """availableNow stream over the documents parquet produces the same
    windowed per-tile counts as the equivalent batch query."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = f"{tmpdir}/src"
    docs.write.parquet(src)
    out_dir, ck = f"{tmpdir}/out", f"{tmpdir}/ck"
    q = start_ingest(spark, src, docs.schema, out_dir, ck, window="1 hour")
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out_dir)
        .groupBy("tile_id")
        .agg(F.sum("n_pages").alias("n_pages"))
        .collect()
    )
    batch = (
        geotag_pages(docs).groupBy("tile_id").agg(F.count("*").alias("n_pages")).collect()
    )
    assert {(r["tile_id"], r["n_pages"]) for r in got} == {
        (r["tile_id"], r["n_pages"]) for r in batch
    }


def test_resumable_ledger(spark, sf_dir, tmpdir):
    pages = geotag_pages(spark.read.parquet(f"{sf_dir}/documents.parquet")).cache()
    ledger, out = f"{tmpdir}/ledger", f"{tmpdir}/out"
    total_tiles = pages.select("tile_id").distinct().count()

    def process(batch):
        return batch.groupBy("tile_id").agg(F.count("*").alias("n"))

    tpb = max(total_tiles // 2, 1)
    n1 = run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=tpb)
    assert n1 == total_tiles
    # a rerun finds nothing left to do (checkpoint-resume semantics)
    assert remaining_tiles(pages, spark, ledger).count() == 0
    n2 = run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=tpb)
    assert n2 == 0
    # resume with a DIFFERENT tiles_per_batch must refuse — batch=<id> dirs
    # would realign and a recursive read would double-count orphans
    with pytest.raises(ValueError, match="tiles_per_batch"):
        run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=tpb + 1)
    # results cover every tile exactly once
    res = spark.read.parquet(out)
    assert res.select("tile_id").distinct().count() == total_tiles


def test_multimodal_features(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = synth_media(docs)
    feats = extract_features(media, feat_dim=8).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
        assert r["kind"] in ("image", "audio", "video")


def test_decode_image_ppm_bmp_roundtrip():
    """Real decode: P6 PPM (with a header comment) and 24-bit BMP (with row
    padding, bottom-up) parse width/height/pixels from the bytes."""
    import struct

    import numpy as np

    from rasters_jl_spark.functions.multimodal import decode_image

    # 3x2 PPM with comment line
    pix = np.arange(3 * 2 * 3, dtype=np.uint8)
    fmt, w, h, arr = decode_image(b"P6\n# comment\n3 2\n255\n" + pix.tobytes())
    assert (fmt, w, h) == ("ppm", 3, 2)
    assert np.array_equal(arr, pix.reshape(2, 3, 3))

    # 3x2 BMP: stride 12 (3*3=9 -> padded to 12), bottom-up rows
    rows = [bytes(range(r * 9, r * 9 + 9)) + b"\x00\x00\x00" for r in (1, 0)]
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + 24, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, 24, 0, 0, 0, 0)
    )
    fmt, w, h, arr = decode_image(hdr + b"".join(rows))
    assert (fmt, w, h) == ("bmp", 3, 2)
    # un-flipped to top-down: row 0 holds bytes 0..8 (padding stripped)
    assert np.array_equal(arr, np.arange(18, dtype=np.uint8).reshape(2, 3, 3))

    with pytest.raises(ValueError, match="unsupported"):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_decode_png_roundtrip_all_filters():
    """PNG via stdlib zlib: an image whose scanlines use every filter
    (None/Sub/Up/Average/Paeth by row) decodes back to the exact pixels —
    compression AND defiltering both inverted. Non-truecolor PNGs raise."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from rasters_jl_spark.functions.multimodal import PNG_SIG, _decode_png, _png_paeth

    rng = np.random.RandomState(7)
    w, h = 5, 5
    raw = rng.randint(0, 256, size=(h, w * 3)).astype(np.uint8)

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data))

    lines, prev = [], np.zeros(w * 3, dtype=np.uint8)
    for r in range(h):
        row, f = raw[r], r % 5
        filt = np.empty_like(row)
        for x in range(w * 3):
            left = int(row[x - 3]) if x >= 3 else 0
            up, ul = int(prev[x]), (int(prev[x - 3]) if x >= 3 else 0)
            pred = [0, left, up, (left + up) // 2, _png_paeth(left, up, ul)][f]
            filt[x] = (int(row[x]) - pred) & 0xFF
        lines.append(bytes([f]) + filt.tobytes())
        prev = row
    png = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    dw, dh, arr = _decode_png(png)
    assert (dw, dh) == (w, h)
    assert np.array_equal(arr, raw.reshape(h, w, 3))

    grayscale = PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
    with pytest.raises(ValueError, match="truecolor"):
        _decode_png(grayscale)


def test_decode_jpeg_roundtrip_dc_and_ac():
    """Baseline grayscale JPEG via stdlib only: DC-only blocks decode to
    their exact 128 + 2·DCq constants (Huffman + DC prediction + dequant
    + IDCT all inverted); a block WITH AC coefficients matches a NumPy
    IDCT reference; progressive/truncated streams raise ValueError."""
    import numpy as np
    import pytest

    from rasters_jl_spark.functions.multimodal import (
        _jpeg_idct_mat,
        _jpeg_zigzag,
        decode_image,
        encode_jpeg_gray,
    )

    for d in (0, 3, 5):
        bw, bh = 1 + d % 3, 1 + d % 2
        dcs = [((d * 7 + b * 3) % 33) - 16 for b in range(bw * bh)]
        fmt, w, h, arr = decode_image(encode_jpeg_gray(dcs, bw, bh))
        assert (fmt, w, h) == ("jpeg", bw * 8, bh * 8)
        for b in range(bw * bh):
            by, bx = divmod(b, bw)
            block = arr[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8]
            assert (block == 128 + 2 * dcs[b]).all()

    zz, mat = _jpeg_zigzag(), _jpeg_idct_mat()
    ac = {0: [(1, 3), (2, -7)]}
    payload = encode_jpeg_gray([5], 1, 1, ac_blocks=ac)
    _fmt, _w, _h, arr = decode_image(payload)
    coef = np.zeros(64)
    coef[0] = 5 * 16
    for k, lvl in ac[0]:
        coef[zz[k]] = lvl * 16
    ref = np.clip(np.round(mat.T @ coef.reshape(8, 8) @ mat + 128), 0, 255)
    assert np.array_equal(arr[:, :, 0], ref.astype(np.uint8))

    # SOF2 now routes to the progressive decoder (see the progressive
    # tests below); other SOFs keep the unsupported raise
    with pytest.raises(ValueError, match="supported"):
        decode_image(b"\xff\xd8\xff\xc1\x00\x04\x00\x00")
    with pytest.raises(ValueError, match="malformed"):
        decode_image(payload[:40])


def test_decode_jpeg_color_444_ycbcr():
    """4:4:4 color JPEG: interleaved per-component MCUs with independent
    DC predictors decode to constant Y/Cb/Cr planes; the JFIF YCbCr→RGB
    transform matches the arithmetic rule; subsampled chroma raises."""
    import numpy as np
    import pytest

    from rasters_jl_spark.functions.multimodal import _encode_jpeg, decode_image

    dcy, dcb, dcr = [3, -5], [7, 0], [-9, 4]
    fmt, w, h, arr = decode_image(_encode_jpeg([dcy, dcb, dcr], 2, 1))
    assert (fmt, w, h) == ("jpeg", 16, 8)
    for b in range(2):
        y, cb, cr = 128 + 2 * dcy[b], 2 * dcb[b], 2 * dcr[b]
        want = [
            np.clip(np.round(v), 0, 255)
            for v in (y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb)
        ]
        blk = arr[:, b * 8 : (b + 1) * 8]
        for c in range(3):
            assert (blk[:, :, c] == want[c]).all()

    # sampling factors outside {1,2} must raise the routing error
    payload = bytearray(_encode_jpeg([dcy, dcb, dcr], 2, 1))
    sof_at = bytes(payload).find(b"\xff\xc0")
    payload[sof_at + 11] = 0x31  # component 1 sampling factors 3x1
    with pytest.raises(ValueError, match="sampling factors"):
        decode_image(bytes(payload))

    # table-less streams and restart intervals keep the ValueError contract
    # (KeyError/struct errors must never escape and kill an Arrow batch)
    import struct

    whole = bytes(_encode_jpeg([dcy, dcb, dcr], 2, 1))
    d1 = whole.find(b"\xff\xc4")
    ln1 = struct.unpack(">H", whole[d1 + 2 : d1 + 4])[0]
    no_dht = whole[:d1] + whole[d1 + 2 + ln1 :]
    d2 = no_dht.find(b"\xff\xc4")
    ln2 = struct.unpack(">H", no_dht[d2 + 2 : d2 + 4])[0]
    no_dht = no_dht[:d2] + no_dht[d2 + 2 + ln2 :]
    with pytest.raises(ValueError, match="malformed"):
        decode_image(no_dht)
    # DRI/RSTn: restart markers change the entropy bytes (byte-aligned
    # RSTn + DC predictor resets) but never the decoded pixels
    plain = decode_image(_encode_jpeg([dcy, dcb, dcr], 2, 1))
    with_dri = decode_image(
        _encode_jpeg([dcy, dcb, dcr], 2, 1, restart_interval=1)
    )
    assert np.array_equal(plain[3], with_dri[3])
    # an out-of-sequence restart marker is rejected
    bad = bytearray(_encode_jpeg([dcy, dcb, dcr], 2, 1, restart_interval=1))
    i = bytes(bad).find(b"\xff\xd0")
    bad[i + 1] = 0xD6
    with pytest.raises(ValueError, match="restart marker"):
        decode_image(bytes(bad))


def test_decode_jpeg_subsampled_420_422():
    """Subsampled-chroma JPEG: 4:2:0 MCUs (four Y + one Cb/Cr block) and
    4:2:2 MCUs (two Y + one Cb/Cr) decode with per-component DC
    predictors and nearest-replication chroma upsample — every Y block
    gets its own luma with the MCU's shared chroma."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import _encode_jpeg, decode_image

    def rgb(y, cb, cr):
        return [
            np.clip(np.round(v), 0, 255)
            for v in (y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb)
        ]

    # 4:2:0 — 2×1 MCU grid
    dcy = [((7 + b * 3) % 33) - 16 for b in range(8)]
    dcb, dcr = [5, -5], [-7, 7]
    fmt, w, h, arr = decode_image(
        _encode_jpeg([dcy, dcb, dcr], 2, 1, samp=[(2, 2), (1, 1), (1, 1)])
    )
    assert (fmt, w, h) == ("jpeg", 32, 16)
    for m in range(2):
        for s in range(4):
            vy, vx = divmod(s, 2)
            want = rgb(128 + 2 * dcy[4 * m + s], 2 * dcb[m], 2 * dcr[m])
            blk = arr[vy * 8 : vy * 8 + 8, (m * 2 + vx) * 8 : (m * 2 + vx) * 8 + 8]
            for c in range(3):
                assert (blk[:, :, c] == want[c]).all(), (m, s, c)

    # T.81 non-interleaved single-component scan: a grayscale stream whose
    # SOF declares 0x22 sampling still decodes in plain block raster order
    # (an interleaved walk would scramble the placement)
    from rasters_jl_spark.functions.multimodal import encode_jpeg_gray

    dcs = [((b * 3) % 33) - 16 for b in range(8)]
    gray = bytearray(encode_jpeg_gray(dcs, 4, 2))
    sof_at = bytes(gray).find(b"\xff\xc0")
    gray[sof_at + 11] = 0x22
    _fmt, gw, gh, garr = decode_image(bytes(gray))
    assert (gw, gh) == (32, 16)
    for b in range(8):
        assert garr[(b // 4) * 8, (b % 4) * 8, 0] == 128 + 2 * dcs[b]

    # 4:2:2 — 2×1 MCU grid, Y 2×1
    dcy2 = [1, 2, 3, 4]
    fmt, w, h, arr = decode_image(
        _encode_jpeg([dcy2, dcb, dcr], 2, 1, samp=[(2, 1), (1, 1), (1, 1)])
    )
    assert (fmt, w, h) == ("jpeg", 32, 8)
    for m in range(2):
        for s in range(2):
            want = rgb(128 + 2 * dcy2[2 * m + s], 2 * dcb[m], 2 * dcr[m])
            blk = arr[:, (m * 2 + s) * 8 : (m * 2 + s + 1) * 8]
            for c in range(3):
                assert (blk[:, :, c] == want[c]).all(), (m, s, c)


def test_decode_jpeg_progressive_nonzero_ac_gray():
    """Progressive (SOF2) grayscale WITH nonzero AC roundtrips exactly:
    a 3-block coefficient grid whose AC layout forces every Annex G path
    the DC-only fixture misses — zero-runs > 15 (ZRL) in the AC first
    scan, a coefficient invisible at Al=1 that appears as a NEW
    coefficient in the refine scan (with a >15 zero-history run, so
    refine-side ZRL + interleaved correction bits), history-nonzero
    correction bits inside EOBRUN members, and an all-zero-AC block mixing
    EOBRUN with coded blocks — decoded via the public path and compared to
    the dequant+IDCT reference."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import (
        _JPEG_Q,
        _encode_jpeg_progressive,
        _jpeg_idct_mat,
        _jpeg_zigzag,
        decode_image,
    )

    zz, mat = _jpeg_zigzag(), _jpeg_idct_mat()

    def idct_plane(zz_coef):
        nat = np.zeros(64)
        for k in range(64):
            nat[zz[k]] = float(zz_coef[k]) * _JPEG_Q
        return np.clip(np.round(mat.T @ nat.reshape(8, 8) @ mat + 128), 0, 255)

    coef = np.zeros((1, 3, 64), dtype=np.int64)
    coef[0, 0, 0] = 5
    coef[0, 0, 1] = 3          # band (1,5): history-nonzero → EOBRUN corr bits
    coef[0, 0, 2] = -7
    coef[0, 0, 40] = 2         # run 34 from band start → 2 ZRLs in first scan
    coef[0, 1, 0] = -6
    coef[0, 1, 63] = -1        # mag>>1 = 0: NEW in refine after a 57-zero run
    coef[0, 2, 0] = 9          # all-zero AC block: pure EOBRUN member
    coef[0, 2, 3] = 1          # new-in-refine inside band (1,5) too
    payload = _encode_jpeg_progressive([coef], 24, 8)
    fmt, w, h, arr = decode_image(payload)
    assert (fmt, w, h) == ("jpeg", 24, 8)
    for b in range(3):
        ref = idct_plane(coef[0, b]).astype(np.uint8)
        assert np.array_equal(arr[:, b * 8 : (b + 1) * 8, 0], ref), b


def test_decode_jpeg_progressive_nonzero_ac_420_color():
    """Progressive 4:2:0 color with nonzero AC in BOTH luma and chroma:
    the interleaved DC first/refine scans walk the MCU order across
    unequally-sampled components, the per-component AC scans cover each
    component's own (padded) block grid, and the decoded image matches the
    per-plane dequant+IDCT reference pushed through nearest chroma
    upsampling and the JFIF YCbCr→RGB arithmetic (planes round to uint8
    BEFORE the transform, exactly like the decoder's assemble tail)."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import (
        _JPEG_Q,
        _encode_jpeg_progressive,
        _jpeg_idct_mat,
        _jpeg_zigzag,
        decode_image,
    )

    zz, mat = _jpeg_zigzag(), _jpeg_idct_mat()

    def idct_plane(zz_coef):
        nat = np.zeros(64)
        for k in range(64):
            nat[zz[k]] = float(zz_coef[k]) * _JPEG_Q
        return np.clip(np.round(mat.T @ nat.reshape(8, 8) @ mat + 128), 0, 255)

    ycoef = np.zeros((2, 2, 64), dtype=np.int64)
    ycoef[0, 0, :3] = [3, 2, 0]
    ycoef[0, 1, 0], ycoef[0, 1, 7] = -5, -3
    ycoef[1, 0, 0] = 7
    ycoef[1, 1, 0], ycoef[1, 1, 20] = 1, 2
    cbcoef = np.zeros((1, 1, 64), dtype=np.int64)
    cbcoef[0, 0, 0], cbcoef[0, 0, 1] = 5, 2
    crcoef = np.zeros((1, 1, 64), dtype=np.int64)
    crcoef[0, 0, 0], crcoef[0, 0, 5] = -7, -1

    payload = _encode_jpeg_progressive(
        [ycoef, cbcoef, crcoef], 16, 16, samp=[(2, 2), (1, 1), (1, 1)]
    )
    fmt, w, h, arr = decode_image(payload)
    assert (fmt, w, h) == ("jpeg", 16, 16)

    yplane = np.empty((16, 16))
    for by in range(2):
        for bx in range(2):
            yplane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = idct_plane(
                ycoef[by, bx]
            )
    cb = np.repeat(np.repeat(idct_plane(cbcoef[0, 0]), 2, 0), 2, 1) - 128.0
    cr = np.repeat(np.repeat(idct_plane(crcoef[0, 0]), 2, 0), 2, 1) - 128.0
    want = np.stack(
        [
            yplane + 1.402 * cr,
            yplane - 0.344136 * cb - 0.714136 * cr,
            yplane + 1.772 * cb,
        ],
        axis=2,
    )
    assert np.array_equal(arr, np.clip(np.round(want), 0, 255).astype(np.uint8))


def test_decode_resource_bounds_and_marker_hygiene():
    """Untrusted-payload hardening: (a) a PNG/JPEG header declaring a
    huge image raises BEFORE any allocation; (b) a PNG decompression
    bomb (tiny IDAT inflating past the expected pixel bytes) stops at
    the bounded inflate and fails the length check; (c) T.81-legal 0xFF
    fill bytes before a marker are skipped; (d) SOS component selectors
    are mapped by id — reordered scans decode identically, unknown
    selectors raise."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from rasters_jl_spark.functions.multimodal import (
        PNG_SIG,
        _decode_png,
        _encode_jpeg,
        decode_image,
        encode_jpeg_gray,
    )

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data))

    # (a) declared-dimension caps: 10000x10000 > 64 Mpx
    huge = PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", 10000, 10000, 8, 2, 0, 0, 0))
    with pytest.raises(ValueError, match="out of bounds"):
        _decode_png(huge)
    jp = bytearray(encode_jpeg_gray([5], 1, 1))
    sof_at = bytes(jp).find(b"\xff\xc0")
    struct.pack_into(">HH", jp, sof_at + 5, 10000, 10000)
    with pytest.raises(ValueError, match="out of bounds"):
        decode_image(bytes(jp))

    # (b) bomb: 2x2 IHDR but IDAT inflates to 1 MB — bounded inflate
    # stops at expected+1 and the length check rejects it
    bomb = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 20)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        _decode_png(bomb)

    # (c) fill bytes: extra 0xFF padding before the DQT marker decodes
    # to the same pixels
    plain = encode_jpeg_gray([5, -3], 2, 1)
    dqt_at = plain.find(b"\xff\xdb")
    padded = plain[:dqt_at] + b"\xff\xff\xff" + plain[dqt_at:]
    assert np.array_equal(decode_image(plain)[3], decode_image(padded)[3])

    # (d) SOS selector mapping: reversing the SOS component entries (Cs
    # carried along) still decodes — selectors, not positions, bind the
    # tables; a selector naming no SOF0 component raises
    color = _encode_jpeg([[3, -5], [7, 0], [-9, 4]], 2, 1)
    sos_at = color.find(b"\xff\xda")
    entries = [color[sos_at + 5 + 2 * c : sos_at + 7 + 2 * c] for c in range(3)]
    reordered = (
        color[: sos_at + 5] + b"".join(reversed(entries)) + color[sos_at + 11 :]
    )
    assert np.array_equal(decode_image(color)[3], decode_image(reordered)[3])
    bad = bytearray(color)
    bad[sos_at + 5] = 9  # component selector 9: no such SOF0 id
    with pytest.raises(ValueError, match="selectors"):
        decode_image(bytes(bad))


def test_decode_image_features_routes_bad_rows(spark):
    """One malformed payload in a batch degrades to a fmt='error' row
    instead of killing the Arrow batch (the documented routing
    contract)."""
    from rasters_jl_spark.functions.multimodal import (
        decode_image_features,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray([5], 1, 1)
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"\xff\xd8\xff\xc2garbage")), (3, bytearray(b"????"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert rows[1]["fmt"] == "jpeg" and rows[1]["width"] == 8
    assert rows[2]["fmt"] == "error" and rows[2]["width"] is None
    assert rows[3]["fmt"] == "error" and rows[3]["c0_mean"] is None


def test_synth_png_decodes_to_modular_rule(spark, sf_dir):
    """synth_png -> decode_image_features: the compressed fixture's dims
    and channel means equal the generating modular rule."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import decode_image_features, synth_png

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    got = {r["media_id"]: r for r in decode_image_features(synth_png(docs, limit=12)).collect()}
    assert len(got) == 12
    for d, r in got.items():
        w, h = 4 + d % 5, 3 + d % 4
        assert (r["fmt"], r["width"], r["height"]) == ("png", w, h)
        ks = np.arange(w * h * 3)
        v = (d * 11 + ks) % 256
        for c in range(3):
            assert abs(r[f"c{c}_mean"] - round(float(v[ks % 3 == c].mean()), 6)) < 1e-9


def test_decode_image_features_matches_numpy(spark, sf_dir):
    """synth_images -> decode_image_features: header dims and channel means
    equal the generating modular rule."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import decode_image_features, synth_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    got = {r["media_id"]: r for r in decode_image_features(synth_images(docs, limit=12)).collect()}
    assert len(got) == 12
    for d, r in got.items():
        h = 3 + d % 4
        w = (4 + d % 5) if d % 2 == 0 else 4 + 4 * (d % 3)
        assert (r["width"], r["height"]) == (w, h)
        assert r["fmt"] == ("ppm" if d % 2 == 0 else "bmp")
        ks = np.arange(w * h * 3)
        v = (d * 7 + ks) % 256
        for c in range(3):
            assert abs(r[f"c{c}_mean"] - round(float(v[ks % 3 == c].mean()), 6)) < 1e-9


def test_decode_audio_wav_roundtrip():
    """Real decode: RIFF/WAVE PCM16 with an extra unknown chunk (and odd
    size, exercising word alignment) parses channels/rate/frames/samples
    from the bytes; non-WAV and non-PCM raise."""
    import struct

    import numpy as np

    from rasters_jl_spark.functions.multimodal import decode_audio

    samples = np.array([[100, -200], [300, -400], [32767, -32768]], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 5 + 1 + 8 + len(fmt) + 8 + 12) + b"WAVE"
        + b"LIST" + struct.pack("<I", 5) + b"INFO\x00" + b"\x00"  # odd-size chunk + pad
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 12) + samples.tobytes()
    )
    ch, rate, frames, arr = decode_audio(wav)
    assert (ch, rate, frames) == (2, 8000, 3)
    assert np.array_equal(arr, samples)

    with pytest.raises(ValueError, match="unsupported"):
        decode_audio(b"ID3\x04 mp3 bytes here")
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)  # IEEE float
    with pytest.raises(ValueError, match="PCM16"):
        decode_audio(b"RIFF" + struct.pack("<I", 28) + b"WAVE"
                     + b"fmt " + struct.pack("<I", 16) + bad_fmt)


def test_decode_audio_features_matches_numpy(spark, sf_dir):
    """synth_audio -> decode_audio_features: channels/rate/frames/duration
    and per-channel mean/RMS equal the generating modular rule; mono files
    report NULL c1."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import decode_audio_features, synth_audio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    got = {r["media_id"]: r for r in decode_audio_features(synth_audio(docs, limit=12)).collect()}
    assert len(got) == 12
    for d, r in got.items():
        ch, frames = 1 + d % 2, 200 + (d % 5) * 40
        assert (r["channels"], r["sample_rate"], r["n_frames"]) == (ch, 8000, frames)
        assert r["duration_ms"] == frames * 1000 // 8000
        k = np.arange(frames * ch)
        v = (((d * 13 + k * 7) % 4096) - 2048).astype(np.float64)
        for c in range(2):
            if c < ch:
                vc = v[k % ch == c]
                assert abs(r[f"c{c}_mean"] - round(float(vc.mean()), 6)) < 1e-9
                assert abs(r[f"c{c}_rms"] - round(float(np.sqrt((vc**2).mean())), 6)) < 1e-9
            else:
                assert r[f"c{c}_mean"] is None and r[f"c{c}_rms"] is None


def test_resize_nearest_and_frame_sampling():
    """resize_nearest floor-maps both directions; sample_video_frames
    byte-slices exactly the sampled frames from the RVID body."""
    import struct

    import numpy as np

    from rasters_jl_spark.functions.multimodal import resize_nearest

    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    up = resize_nearest(arr, 8, 8)  # upscale rows (4→8) and cols (6→8)
    assert up.shape == (8, 8, 3)
    for ty in range(8):
        for tx in range(8):
            assert np.array_equal(up[ty, tx], arr[(ty * 4) // 8, (tx * 6) // 8])
    down = resize_nearest(arr, 2, 2)
    assert np.array_equal(down, arr[np.ix_([0, 2], [0, 3])])


def test_sample_video_frames_slices_raw_frames(spark, sf_dir):
    """Frame means equal the modular byte rule for frames 0,2,4,…; odd
    frames are absent; a non-RVID payload raises."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import sample_video_frames, synth_video

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    got = {}
    for r in sample_video_frames(synth_video(docs, limit=10), every=2).collect():
        got[(r["media_id"], r["frame_idx"])] = r["f_mean"]
    for d in range(10):
        nf, w, h = 6 + d % 5, 4 + d % 3, 2 + d % 3
        fsize = w * h * 3
        for f in range(nf):
            if f % 2 == 1:
                assert (d, f) not in got
                continue
            k = f * fsize + np.arange(fsize)
            want = round(float(((d * 11 + k) % 256).astype(np.float64).mean()), 6)
            assert abs(got[(d, f)] - want) < 1e-9, (d, f)


def test_merged_partials_match_direct_zonal(spark, sf_dir, tmpdir):
    """Ledger-mode per-batch zonal partials, re-merged, equal the direct
    single-pass zonal result (count/sum/min/max exact; mean to 9 dp)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.zonal import merge_zonal_partials, zonal_pages

    pages = geotag_pages(spark.read.parquet(f"{sf_dir}/documents.parquet")).cache()
    ledger, out = f"{tmpdir}/zledger", f"{tmpdir}/zout"
    run_tiles_resumable(
        pages,
        spark,
        ledger,
        lambda b: zonal_pages(b, FX.POLYS_GEO),
        out,
        tiles_per_batch=50,  # force several batches → real partials
    )
    partials = spark.read.parquet(out)
    # more than one partial row per geom proves we actually merged something
    assert partials.count() > partials.select("geom_id").distinct().count()

    def key(rows):
        return {
            r["geom_id"]: (
                r["n_pages"],
                r["sum_val"],
                None if r["mean_val"] is None else round(r["mean_val"], 9),
                r["min_val"],
                r["max_val"],
            )
            for r in rows
        }

    got = key(merge_zonal_partials(partials).collect())
    want = key(zonal_pages(pages, FX.POLYS_GEO).collect())
    assert got == want


def test_incremental_refresh_reprocesses_changed_tiles(spark, sf_dir, tmpdir):
    """Append-into-done-tile correctness: v1 corpus processed, then docs
    appended into EXISTING tiles — the incremental runner re-fingerprints,
    reprocesses only changed tiles (dynamic partition overwrite), and the
    merged result equals a from-scratch zonal on the full corpus."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.zonal import (
        merge_zonal_partials,
        spatial_join_pages,
        zonal_pages,
    )
    from rasters_jl_spark.plans.lineage import run_tiles_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v1 = geotag_pages(docs.where("doc_id % 3 != 0")).cache()
    v2 = geotag_pages(docs).cache()
    ledger, out = f"{tmpdir}/iledger", f"{tmpdir}/iout"

    def partials(batch):
        j = spatial_join_pages(batch, FX.POLYS_GEO)
        return j.groupBy("tile_id", "geom_id").agg(
            F.count("n_chars").alias("n_pages"),
            F.sum("n_chars").alias("sum_val"),
            F.avg("n_chars").alias("mean_val"),
            F.min("n_chars").alias("min_val"),
            F.max("n_chars").alias("max_val"),
        )

    n1 = run_tiles_incremental(v1, spark, ledger, partials, out, tiles_per_batch=500)
    assert n1 == v1.select("tile_id").distinct().count()

    def key(rows):
        return {
            r["geom_id"]: (r["n_pages"], r["sum_val"], r["min_val"], r["max_val"])
            for r in rows
            if r["n_pages"]
        }

    # v2 appends docs into mostly-existing tiles; only those reprocess
    n2 = run_tiles_incremental(v2, spark, ledger, partials, out, tiles_per_batch=500)
    appended_tiles = (
        geotag_pages(docs.where("doc_id % 3 = 0")).select("tile_id").distinct().count()
    )
    assert 0 < n2 <= appended_tiles < n1
    got = key(merge_zonal_partials(spark.read.parquet(out)).collect())
    want = key(zonal_pages(v2, FX.POLYS_GEO).collect())
    assert got == want
    # third run with unchanged input: nothing to do
    assert run_tiles_incremental(v2, spark, ledger, partials, out) == 0


def test_resumable_rerun_overwrites_orphaned_batch(spark, sf_dir, tmpdir):
    """Crash between result write and ledger append must not double-count:
    the rerun rebuilds the identical (sorted, deterministic) batch and its
    overwrite replaces the orphaned output."""
    pages = geotag_pages(spark.read.parquet(f"{sf_dir}/documents.parquet")).cache()
    ledger, out = f"{tmpdir}/cledger", f"{tmpdir}/cout"

    def process(batch):
        return batch.groupBy("tile_id").agg(F.count("*").alias("n"))

    todo = sorted(r["tile_id"] for r in pages.select("tile_id").distinct().collect())
    # simulate the orphan a crashed run leaves: batch output written twice
    # over (what a naive append-rerun would produce), no ledger row
    orphan = process(pages.where(F.col("tile_id").isin(todo)))
    orphan.unionByName(orphan).write.mode("overwrite").parquet(f"{out}/batch={todo[0]}")
    run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=10**6)
    got = {r["tile_id"]: r["n"] for r in spark.read.parquet(out).collect()}
    want = {r["tile_id"]: r["n"] for r in process(pages).collect()}
    assert got == want


def test_stateful_dedup_stream_matches_batch(spark, sf_dir, tmpdir):
    """applyInPandasWithState LSH bucket maintenance: corpus drained as TWO
    micro-batches (maxFilesPerTrigger=1); bucket membership must persist in
    state so cross-batch pairs (doc from batch 1 x doc from batch 2) are
    emitted — union of emitted pairs == batch candidate set."""
    from pyspark.sql import functions as F

    from rasters_jl_spark.functions.dedup import minhash_candidate_pairs
    from rasters_jl_spark.streaming.dedup_stream import start_dedup_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src, out, ck = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, docs.schema, out, ck, max_files_per_trigger=1)
    q.awaitTermination(300)
    res = spark.read.parquet(out)
    # two micro-batches actually ran (state persistence was exercised)
    assert res.select("batch_id").distinct().count() >= 2
    got = {(r["doc_a"], r["doc_b"]) for r in res.select("doc_a", "doc_b").distinct().collect()}
    want = {(r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(docs).collect()}
    assert got == want
    # cross-batch pairs exist (even x odd doc ids)
    assert any(a % 2 != b % 2 for a, b in got)
    # EQUIVALENCE PRECONDITION: stream and batch agree only below the
    # saturation cap (stream keeps the pre-saturation pair prefix, batch
    # drops the whole bucket) — check it rather than assume it, so a future
    # fixture change that overflows a bucket fails HERE, not silently.
    from rasters_jl_spark.functions.dedup import oversized_buckets

    assert oversized_buckets(docs).count() == 0, (
        "fixture corpus has an LSH bucket over BUCKET_CAP; the stream/batch "
        "parity assertion above no longer covers saturation semantics"
    )


def test_stateful_zonal_stream_matches_batch(spark, sf_dir, tmpdir):
    """applyInPandasWithState running zonal: corpus drained as TWO
    micro-batches; per-geometry (n, sum, min, max) state must persist so
    the latest emitted row equals the batch zonal over ALL pages, and the
    intermediate (batch-0) row must cover only the first half (proving the
    emission is genuinely incremental, not a per-batch recompute)."""
    from pyspark.sql import functions as F

    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.zonal import zonal_pages
    from rasters_jl_spark.sources.pages import geotag_pages
    from rasters_jl_spark.streaming.zonal_stream import start_zonal_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src, out, ck = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q = start_zonal_stream(spark, src, docs.schema, FX.POLYS_GEO, out, ck,
                           max_files_per_trigger=1)
    q.awaitTermination(300)
    res = spark.read.parquet(out)
    assert res.select("batch_id").distinct().count() >= 2

    def batch_want(pages_df):
        return {
            r["geom_id"]: (r["n_pages"], float(r["sum_val"]))
            for r in zonal_pages(geotag_pages(pages_df), FX.POLYS_GEO).collect()
            if r["n_pages"] > 0
        }

    last = res.withColumn(
        "_rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("geom_id").orderBy(F.col("batch_id").desc())
        ),
    ).where("_rn = 1")
    got_final = {r["geom_id"]: (r["n_pages"], float(r["sum_val"])) for r in last.collect()}
    assert got_final == batch_want(docs)
    # batch-0 rows = running stats over the first half only
    got_b0 = {
        r["geom_id"]: (r["n_pages"], float(r["sum_val"]))
        for r in res.where(F.col("batch_id") == 0).collect()
    }
    assert got_b0 == batch_want(half1)


def test_incremental_ref_dispatch_both_ways(spark, sf_dir, tmpdir):
    """run_tiles_incremental_ref feature-detects the source: parquet paths
    take the row-count-fingerprint fallback (verified end-to-end: append
    into existing tiles -> only changed tiles recompute -> merged result
    equals a from-scratch zonal); iceberg: refs either run the snapshot-
    diff path (jar present) or fail with the clear runtime error (sandbox
    has no jar) — green both ways."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.zonal import (
        merge_zonal_partials,
        spatial_join_pages,
        zonal_pages,
    )
    from rasters_jl_spark.plans.lineage import run_tiles_incremental_ref
    from rasters_jl_spark.sources.catalog import iceberg_available

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v1 = geotag_pages(docs.where("doc_id % 3 != 0")).drop("warc_ts")
    v2 = geotag_pages(docs).drop("warc_ts")
    src, ledger, out = f"{tmpdir}/rsrc", f"{tmpdir}/rledger", f"{tmpdir}/rout"

    def partials(batch):
        j = spatial_join_pages(batch, FX.POLYS_GEO)
        return j.groupBy("tile_id", "geom_id").agg(
            F.count("n_chars").alias("n_pages"),
            F.sum("n_chars").alias("sum_val"),
            F.min("n_chars").alias("min_val"),
            F.max("n_chars").alias("max_val"),
        )

    v1.write.mode("overwrite").parquet(src)
    n1 = run_tiles_incremental_ref(src, spark, ledger, partials, out, tiles_per_batch=500)
    assert n1 > 0
    v2.write.mode("overwrite").parquet(src)  # append-equivalent: superset per tile
    n2 = run_tiles_incremental_ref(src, spark, ledger, partials, out, tiles_per_batch=500)
    assert 0 < n2  # changed tiles reprocessed
    got = {
        r["geom_id"]: (r["n_pages"], r["sum_val"], r["min_val"], r["max_val"])
        for r in merge_zonal_partials(spark.read.parquet(out)).collect()
    }
    want = {
        r["geom_id"]: (r["n_pages"], r["sum_val"], r["min_val"], r["max_val"])
        for r in zonal_pages(v2, FX.POLYS_GEO).collect()
        if r["n_pages"] > 0
    }
    assert got == want

    if iceberg_available(spark):
        # jar present: drive the snapshot-diff branch on a temp table
        spark.sql("CREATE DATABASE IF NOT EXISTS ice.tdb")
        v1.writeTo("ice.tdb.pages_inc").createOrReplace()
        iledger, iout = f"{tmpdir}/iledger", f"{tmpdir}/iout"
        m1 = run_tiles_incremental_ref(
            "iceberg:ice.tdb.pages_inc", spark, iledger, partials, iout, tiles_per_batch=500
        )
        assert m1 > 0
        v2.join(v1.select("doc_id"), "doc_id", "left_anti").writeTo("ice.tdb.pages_inc").append()
        m2 = run_tiles_incremental_ref(
            "iceberg:ice.tdb.pages_inc", spark, iledger, partials, iout, tiles_per_batch=500
        )
        assert 0 < m2
        got_i = {
            r["geom_id"]: (r["n_pages"], r["sum_val"])
            for r in merge_zonal_partials(spark.read.parquet(iout)).collect()
        }
        assert got_i == {k: v[:2] for k, v in want.items()}
        # nothing new -> snapshot ids equal -> zero tiles processed
        assert run_tiles_incremental_ref(
            "iceberg:ice.tdb.pages_inc", spark, iledger, partials, iout
        ) == 0
        # an overwrite snapshot now triggers CHANGELOG-SCAN REPAIR (or a
        # full recompute when the runtime lacks changelog support): the
        # touched tiles recompute against the new state — never refusal,
        # never staleness
        v1.writeTo("ice.tdb.pages_inc").overwritePartitions()
        m3 = run_tiles_incremental_ref(
            "iceberg:ice.tdb.pages_inc", spark, iledger, partials, iout, tiles_per_batch=500
        )
        assert m3 > 0
        got_r = {
            r["geom_id"]: (r["n_pages"], r["sum_val"])
            for r in merge_zonal_partials(spark.read.parquet(iout)).collect()
        }
        want_r = {
            r["geom_id"]: (r["n_pages"], r["sum_val"])
            for r in zonal_pages(v1, FX.POLYS_GEO).collect()
            if r["n_pages"] > 0
        }
        assert got_r == want_r
    else:
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            run_tiles_incremental_ref(
                "iceberg:ice.tdb.pages_inc", spark, f"{tmpdir}/x", partials, f"{tmpdir}/y"
            )


def test_watermark_drops_too_late_accepts_within(spark, tmpdir):
    """Late-data semantics of the windowed ingest across THREE forced
    micro-batches: batch 0 sets max event time 11:00 (watermark 10:30 with
    the 30-min delay); batch 1 lets the engine evict the expired 10:00
    window with that watermark; batch 2 then delivers one TOO-LATE event
    (10:01 — dropped, its window expired) and one late-but-within event
    (10:35 — accepted into the live 10:30 window). Update mode evicts at
    the end of the batch that carries the new watermark, so the drop is
    only observable one batch later — which is exactly what this pins."""
    import datetime as dt
    import glob
    import os

    from rasters_jl_spark.streaming.ingest import start_ingest

    def mk(ts_counts):
        # constant doc_id: every event lands in the same tile, so the
        # (window, tile) key reduces to the window
        return [(7, 100, dt.datetime(2025, 6, 1, h, m)) for (h, m), n in ts_counts
                for _ in range(n)]

    schema = "doc_id long, n_chars long, warc_ts timestamp"
    src, out, ck = f"{tmpdir}/wsrc", f"{tmpdir}/wout", f"{tmpdir}/wck"
    batches = [
        mk([((10, 2), 3), ((11, 0), 1)]),   # 10:00 window x3 + advancer
        mk([((11, 1), 1)]),                 # watermark 10:30 evicts 10:00
        mk([((10, 1), 1), ((10, 35), 1)]),  # too-late + late-but-within
    ]
    seen: list[set] = []
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        seen.append(set(glob.glob(f"{src}/*.parquet")))
    # the file source orders micro-batches by modification time; writes can
    # share an mtime tick — force strict per-batch ordering
    now = 1_900_000_000
    for f in glob.glob(f"{src}/*.parquet"):
        gen = min(i for i, s in enumerate(seen) if f in s)
        os.utime(f, (now + 60 * gen,) * 2)

    q = start_ingest(spark, src, schema, out, ck, window="10 minutes",
                     max_files_per_trigger=1)
    q.awaitTermination(300)
    res = spark.read.parquet(out)
    assert res.select("batch_id").distinct().count() >= 3
    by_batch = {}
    for r in res.collect():
        by_batch.setdefault(r["batch_id"], {})[r["win"]["start"].strftime("%H:%M")] = r["n_pages"]
    last = max(by_batch)
    # the too-late 10:01 event produced NO emission for the expired 10:00
    # window in the final batch (neither a bump past 3 nor a fresh state)
    assert "10:00" not in by_batch[last], by_batch
    assert max(b.get("10:00", 0) for b in by_batch.values()) == 3, by_batch
    # the late-but-within 10:35 event WAS accepted into the 10:30 window
    assert by_batch[last].get("10:30") == 1, by_batch


def test_zonal_stream_restart_recovers_state(spark, sf_dir, tmpdir):
    """Checkpoint RESTART semantics (not just multi-batch within one
    query): drain a stream, STOP it, append new input, start a NEW query
    on the same checkpoint — the state store must restore the running
    per-geometry tuples so the post-restart emission equals the batch
    zonal over everything ever ingested."""
    from pyspark.sql import functions as F

    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.zonal import zonal_pages
    from rasters_jl_spark.sources.pages import geotag_pages
    from rasters_jl_spark.streaming.zonal_stream import start_zonal_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src, out, ck = f"{tmpdir}/rsrc", f"{tmpdir}/rout", f"{tmpdir}/rck"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    q1 = start_zonal_stream(spark, src, docs.schema, FX.POLYS_GEO, out, ck)
    q1.awaitTermination(300)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q2 = start_zonal_stream(spark, src, docs.schema, FX.POLYS_GEO, out, ck)
    q2.awaitTermination(300)

    res = spark.read.parquet(out)
    last = res.withColumn(
        "_rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("geom_id").orderBy(F.col("batch_id").desc())
        ),
    ).where("_rn = 1")
    got = {r["geom_id"]: (r["n_pages"], float(r["sum_val"])) for r in last.collect()}
    want = {
        r["geom_id"]: (r["n_pages"], float(r["sum_val"]))
        for r in zonal_pages(geotag_pages(docs), FX.POLYS_GEO).collect()
        if r["n_pages"] > 0
    }
    assert got == want


def test_resumable_fresh_ledger_ignores_stale_meta(spark, sf_dir, tmpdir):
    """Deleting the ledger IS a fresh run: a stale <ledger>.meta.json from a
    previous life must not refuse a new tiles_per_batch."""
    import shutil

    pages = geotag_pages(spark.read.parquet(f"{sf_dir}/documents.parquet")).cache()
    ledger, out = f"{tmpdir}/fledger", f"{tmpdir}/fout"

    def process(batch):
        return batch.groupBy("tile_id").agg(F.count("*").alias("n"))

    run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=64)
    shutil.rmtree(ledger)
    shutil.rmtree(out)
    n = run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=128)
    assert n == pages.select("tile_id").distinct().count()


def test_resumable_creates_missing_ledger_parent(spark, sf_dir, tmpdir):
    """A ledger under a directory that does not exist yet: the first run
    creates it (the meta sidecar is written before any Spark write)."""
    pages = geotag_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    ledger, out = f"{tmpdir}/new/nested/ledger", f"{tmpdir}/nout"

    def process(batch):
        return batch.groupBy("tile_id").agg(F.count("*").alias("n"))

    n = run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=10**6)
    assert n == pages.select("tile_id").distinct().count()
    assert run_tiles_resumable(pages, spark, ledger, process, out, tiles_per_batch=10**6) == 0


def test_stream_decontaminate_covers_both_microbatches(spark, sf_dir, tmpdir):
    """Stream-static decontamination: the corpus drains as two parity
    micro-batches; eval windows from doc_id%25==0 (both parities) must
    flag docs in BOTH batches, and the re-grouped hit sink must equal the
    batch operator exactly."""
    from rasters_jl_spark.functions.dedup import decontaminate
    from rasters_jl_spark.streaming.ingest import start_decontaminate_stream

    src, out, ck = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    ev = docs.where(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 2, 16)).alias("text")
    )
    q = start_decontaminate_stream(spark, src, docs.schema, ev, out, ck)
    assert q.awaitTermination(600)
    got = {
        r["doc_id"]: r["n_hit_grams"]
        for r in spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_hit_grams"))
        .collect()
    }
    want = {r["doc_id"]: r["n_hit_grams"] for r in decontaminate(docs, ev).collect()}
    assert got == want
    assert any(d % 2 == 0 for d in got) and any(d % 2 == 1 for d in got)


def test_incremental_zero_tile_cleanup(spark, sf_dir, tmpdir):
    """Deletion repair: a changed tile whose input is now EMPTY must have
    its stale partition dir removed and a zero-row ledger entry recorded
    (otherwise a recursive read of the partials resurrects deleted data)."""
    from rasters_jl_spark.plans.lineage import _run_incremental_batches

    out, ledger = f"{tmpdir}/zout", f"{tmpdir}/zledger"
    pages = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "tile_id long, n_chars long"
    )

    def partials(batch):
        return batch.groupBy("tile_id").agg(F.sum("n_chars").alias("s"))

    n = _run_incremental_batches(
        pages, spark, ledger, partials, out, 10, {1: 2, 2: 1}
    )
    assert n == 2
    import os

    assert os.path.isdir(f"{out}/tile_id=2")
    # tile 2's rows are all gone: repair recomputes tile 1 only and cleans 2
    pages2 = pages.where("tile_id = 1")
    n2 = _run_incremental_batches(
        pages2, spark, ledger, partials, out, 10, {1: 2}, zero_tiles=[2]
    )
    assert n2 == 1
    assert not os.path.isdir(f"{out}/tile_id=2")
    led = spark.read.parquet(ledger)
    z = led.where("tile_id = 2 AND input_rows = 0 AND status = 'done'").count()
    assert z == 1
    # merged partials no longer contain the deleted tile
    vals = {r["tile_id"]: r["s"] for r in spark.read.parquet(out).collect()}
    assert vals == {1: 21}


def test_stream_curate_matches_batch(spark, sf_dir, tmpdir):
    """Stateless streaming curation (Gopher gate + PII redaction) over two
    micro-batches equals the batch composition row-for-row."""
    from rasters_jl_spark.functions.pii import redact_pii
    from rasters_jl_spark.functions.textstats import gopher_signals
    from rasters_jl_spark.streaming.ingest import start_curate_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src, out, ck = f"{tmpdir}/csrc", f"{tmpdir}/cout", f"{tmpdir}/cck"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q = start_curate_stream(spark, src, docs.schema, out, ck, min_words=30, min_stops=1)
    assert q.awaitTermination(600)
    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out)
           .select("doc_id", "text").collect()}
    gated = (
        gopher_signals(docs, min_words=30, min_stops=1, keep=("text",))
        .where(F.col("gopher_pass")).select("doc_id", "text")
    )
    want = {(r["doc_id"], r["text"]) for r in redact_pii(gated)
            .select("doc_id", "text").collect()}
    assert got == want and len(got) > 0


def test_stream_curate_c4_stage_matches_batch(spark, tmpdir):
    """The c4=True streaming twin equals the batch c4_clean → gopher →
    pii composition row-for-row on prose input (the synthetic fixture is
    punctuation-free, so this uses handcrafted prose docs)."""
    from rasters_jl_spark.functions.pii import redact_pii
    from rasters_jl_spark.functions.textstats import c4_clean, gopher_signals
    from rasters_jl_spark.streaming.ingest import start_curate_stream

    prose = (
        "The quick brown fox jumps over the lazy dog and then it runs away home.\n"
        "Enable javascript to view this page.\n"
        "We think that these are fine sentences with enough words to survive easily.\n"
        "And here is another complete sentence that also has plenty of words in it."
    )
    docs = spark.createDataFrame(
        [(i, prose) for i in range(6)] + [(9, "no punctuation token soup line")],
        "doc_id long, text string",
    )
    src, out, ck = f"{tmpdir}/c4src", f"{tmpdir}/c4out", f"{tmpdir}/c4ck"
    docs.coalesce(1).write.mode("append").parquet(src)
    q = start_curate_stream(
        spark, src, docs.schema, out, ck, min_words=10, min_stops=1, c4=True
    )
    assert q.awaitTermination(600)
    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out)
           .select("doc_id", "text").collect()}
    cleaned = (
        c4_clean(docs).where(F.col("c4_pass"))
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    gated = (
        gopher_signals(cleaned, min_words=10, min_stops=1, keep=("text",))
        .where(F.col("gopher_pass")).select("doc_id", "text")
    )
    want = {(r["doc_id"], r["text"]) for r in redact_pii(gated)
            .select("doc_id", "text").collect()}
    assert got == want and len(got) == 6
    # the javascript line was stripped from every surviving doc
    assert all("javascript" not in t for _d, t in got)


def test_gif_lzw_roundtrip_growth_reset_kwkwk():
    """Encoder↔decoder lockstep across width growth, the 4096-entry table
    reset, and repetitive KwKwK-heavy streams, at several code sizes."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = np.random.RandomState(7)
    for n in (1, 16, 50, 5000, 120000):  # 120k forces multiple table resets
        idx = rng.randint(0, 16, n).astype(np.uint8).tobytes()
        assert bytes(_gif_lzw_decode(4, _gif_lzw_encode(4, idx), n)) == idx
    for mcs in (2, 8):
        rep = bytes(b % (1 << mcs) for b in bytes([1, 1, 1, 1, 2, 2, 2, 1, 1, 2] * 4000))
        assert bytes(_gif_lzw_decode(mcs, _gif_lzw_encode(mcs, rep), len(rep))) == rep


def test_gif_lzw_width_bump_on_final_code_byte_boundary():
    """Valid stream whose LAST data code is exactly the width-bump trigger
    and whose END code ends on a byte boundary: the encoder defines no
    table entry for its final code, so the decoder's width runs one ahead
    and END arrives one bit short — the decoder must zero-extend and
    accept it (14 incompressible symbols at mcs=4 hit this exactly:
    CLEAR + 14 codes x 5 bits + END x 5 bits = 80 bits)."""
    from rasters_jl_spark.functions.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    for idx in (
        bytes([3, 0, 8, 7, 7, 4, 3, 2, 13, 1, 0, 2, 6, 7]),
        bytes([0, 6, 13, 7, 14, 8, 0, 5, 13, 10, 8, 4, 6, 10]),
    ):
        enc = _gif_lzw_encode(4, idx)
        assert len(enc) == 10  # END really ends on the byte boundary
        assert bytes(_gif_lzw_decode(4, enc, len(idx))) == idx


def test_gif_lzw_rejects_end_bits_at_wrong_width():
    """Leftover bits that read as END are accepted only when they are one
    bit narrower than the decoder's width (the byte-boundary END case).
    At mcs=2 (CLEAR 4, END 5) the width is 5 after 10 data codes; CLEAR +
    14 literals + END packed into 3 bits fills exactly 64 bits, a
    truncated stream that must raise."""
    from rasters_jl_spark.functions.multimodal import _gif_lzw_decode

    codes = [(4, 3), (0, 3), (1, 3)] + [(c % 4, 4) for c in range(8)] + [(c % 4, 5) for c in range(4)]
    acc = nbits = 0
    for code, width in codes + [(5, 3)]:
        acc |= code << nbits
        nbits += width
    assert nbits == 64
    with pytest.raises(ValueError, match="without END"):
        _gif_lzw_decode(2, acc.to_bytes(8, "little"), 100)
    # two more zero bits make END a full 5-bit code: the stream is valid
    assert bytes(_gif_lzw_decode(2, acc.to_bytes(9, "little"), 100)) == bytes(c for c, _w in codes[1:])


def test_decode_gif_interlace_and_errors():
    import struct

    import numpy as np
    import pytest as _pt

    from rasters_jl_spark.functions.multimodal import (
        _decode_gif,
        _gif_interlace_order,
        _gif_lzw_encode,
        decode_image,
    )

    def build(d, interlaced):
        w, h = 6, 9
        pal = ((d * 11 + np.arange(16 * 3)) % 256).astype(np.uint8)
        idx = ((d * 7 + np.arange(w * h)) % 16).astype(np.uint8)
        stored = idx.reshape(h, w)
        if interlaced:
            stored = stored[_gif_interlace_order(h)]
        lzw = _gif_lzw_encode(4, stored.tobytes())
        blocks = bytearray()
        for off in range(0, len(lzw), 255):
            c = lzw[off : off + 255]
            blocks += bytes([len(c)]) + c
        blocks += b"\x00"
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x83, 0, 0)
            + pal.tobytes()
            + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
            + b"\x2c"
            + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
            + bytes([4])
            + bytes(blocks)
            + b"\x3b"
        ), pal.reshape(-1, 3)[idx].reshape(h, w, 3)

    flat, want = build(5, False)
    inter, want2 = build(5, True)
    assert (_decode_gif(flat)[2] == want).all()
    # interlaced storage decodes to the SAME logical image
    assert (_decode_gif(inter)[2] == want2).all()
    assert (want == want2).all()
    fmt, w, h, _ = decode_image(flat)
    assert (fmt, w, h) == ("gif", 6, 9)
    # error contract: truncated stream, bad code size, bomb bound
    with _pt.raises(ValueError):
        _decode_gif(flat[:40])
    bad = bytearray(flat)
    bad[flat.index(b"\x2c") + 10] = 1  # corrupt LZW minimum code size
    with _pt.raises(ValueError):
        _decode_gif(bytes(bad))


def test_gif_frames_animation_and_sampling(spark):
    """Multi-frame decode: frame count rule, per-frame pixel parity with
    the rule, max_frames bounding, error-row routing."""
    import numpy as np

    from rasters_jl_spark.functions.multimodal import (
        _decode_gif_frames,
        gif_frame_features,
        synth_gif_anim,
    )

    docs = spark.range(6).selectExpr("id as doc_id")
    media = synth_gif_anim(docs, limit=6)
    rows = gif_frame_features(media).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    for d in range(6):
        fr = sorted(by_id[d], key=lambda r: r["frame_idx"])
        assert len(fr) == 2 + d % 3
        assert all(r["n_frames"] == 2 + d % 3 for r in fr)
        w, h = 4 + d % 5, 3 + d % 4
        for f, r in enumerate(fr):
            ks = np.arange(w * h * 3)
            v = (d * 11 + ((d * 7 + f * 5 + ks // 3) % 16) * 3 + (ks % 3)) % 256
            assert r["c0_mean"] == round(float(v[ks % 3 == 0].mean()), 6)
    # max_frames bounds the walk
    payload = bytes(media.orderBy("media_id").collect()[2]["payload"])
    assert len(_decode_gif_frames(payload, max_frames=1)) == 1
    # corrupt payload routes to an error row, not a task failure
    bad = spark.createDataFrame([(99, bytearray(b"GIF89a junk"))], "media_id long, payload binary")
    err = gif_frame_features(bad).collect()
    assert len(err) == 1 and err[0]["frame_idx"] == -1 and err[0]["width"] is None
