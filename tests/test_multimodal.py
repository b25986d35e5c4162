"""Multimodal asset plumbing: schema, content addressing, the real pixel
decoders against independent test-side encoders, and per-row error
isolation in the Arrow decode stages."""

import pytest
from pyspark.sql import functions as F

from kausaldb_spark.sources import multimodal as mm


def test_asset_schema_and_determinism(spark):
    a1 = mm.synthetic_assets(spark, 32).collect()
    a2 = mm.synthetic_assets(spark, 32).collect()
    assert [r.asdict() if hasattr(r, "asdict") else r.asDict() for r in a1] == [
        r.asDict() for r in a2
    ]
    kinds = {r["kind"] for r in a1}
    assert kinds == {"image", "audio", "video"}
    assert all(isinstance(r["payload"], (bytes, bytearray)) for r in a1)


def test_content_address_and_binary_dedup(spark):
    """sha256 over raw payload bytes: byte-identical assets collapse to one
    keep_id; distinct payloads never group."""
    from kausaldb_spark.sources.multimodal import (
        content_address,
        exact_binary_duplicates,
        synthetic_assets,
    )
    from pyspark.sql import functions as F

    assets = synthetic_assets(spark, n=16)
    # plant two byte-identical copies of asset 0's payload
    dup = assets.where(F.col("asset_id") == "asset_0").select(
        F.lit("asset_copy_a").alias("asset_id"), "kind", "payload", "meta"
    )
    dup2 = dup.select(F.lit("asset_copy_b").alias("asset_id"), "kind", "payload", "meta")
    all_assets = assets.unionByName(dup).unionByName(dup2)

    ca = content_address(all_assets)
    assert ca.columns == ["asset_id", "n_bytes", "sha256"]
    assert ca.count() == 18
    groups = exact_binary_duplicates(all_assets).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_assets"] == 3 and g["keep_id"] == "asset_0"
    assert len(g["sha256"]) == 64


# ---------------------------------------------------------------------------
# real header probing (format specs, no codec library)
# ---------------------------------------------------------------------------

def _png(w, h):
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02" + b"\x00" * 7)


def _jpeg(w, h):
    # SOI, APP0 (JFIF stub), DHT (must be skipped), SOF0, EOI
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    dht = b"\xff\xc4" + (4).to_bytes(2, "big") + b"\x00\x00"
    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
           + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 9)
    return b"\xff\xd8" + app0 + dht + sof + b"\xff\xd9"


def _gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 4


def _bmp(w, h, top_down=False):
    hh = (-h if top_down else h).to_bytes(4, "little", signed=True)
    return (b"BM" + b"\x00" * 16 + w.to_bytes(4, "little", signed=True) + hh
            + b"\x00" * 10)


# ---------------------------------------------------------------------------
# real pixel decode (r7): PNG/BMP from the public specs
# ---------------------------------------------------------------------------


def _png_encode(img, ctype, filters):
    """Independent spec-following PNG writer for test fixtures: applies
    the FORWARD filters (None/Sub/Up/Average/Paeth) per scanline, then
    zlib-deflates. Exercises the decoder against the spec, not itself."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = img.shape

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        raw.append(f)
        line = bytearray()
        for i in range(w * ch):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line.append((int(cur[i]) - pred) & 0xFF)
        raw += line
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _bmp_encode(img, bpp=24, bottom_up=True):
    """Independent BMP writer: BITMAPINFOHEADER, BGR(A), padded rows."""
    import struct

    import numpy as np

    h, w, ch = img.shape
    out_ch = bpp // 8
    stride = (w * out_ch + 3) & ~3
    px = bytearray()
    ys = range(h - 1, -1, -1) if bottom_up else range(h)
    for y in ys:
        row = bytearray()
        for x in range(w):
            r, g, b = int(img[y, x, 0]), int(img[y, x, 1]), int(img[y, x, 2])
            row += bytes([b, g, r])
            if out_ch == 4:
                row.append(int(img[y, x, 3]) if ch == 4 else 255)
        row += b"\x00" * (stride - len(row))
        px += row
    data_off = 14 + 40
    header = (
        b"BM" + struct.pack("<IHHI", data_off + len(px), 0, 0, data_off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h if bottom_up else -h, 1, bpp, 0,
            len(px), 2835, 2835, 0, 0,
        )
    )
    return bytes(header + px)


def _rand_img(h, w, ch, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, ch)).astype("uint8")


def test_png_decode_all_filters_and_color_types():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    for ctype, ch in ((2, 3), (6, 4), (0, 1), (4, 2)):
        img = _rand_img(7, 5, ch, seed=ctype)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            data = _png_encode(img, ctype, filters)
            got = decode_pixels(data)
            assert got.shape == (7, 5, ch), (ctype, filters)
            assert np.array_equal(got, img), (ctype, filters)


def test_bmp_decode_24_and_32_bit_with_padding():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img(4, 3, 3, seed=7)  # w=3 -> 24-bit stride padding exercised
    got = decode_pixels(_bmp_encode(img, bpp=24, bottom_up=True))
    assert np.array_equal(got, img)
    got_td = decode_pixels(_bmp_encode(img, bpp=24, bottom_up=False))
    assert np.array_equal(got_td, img)
    img4 = _rand_img(2, 2, 4, seed=8)
    got4 = decode_pixels(_bmp_encode(img4, bpp=32))
    assert np.array_equal(got4, img4)


def test_decode_boundary_now_covers_jpeg_and_gif():
    """r10: baseline JPEG and GIF are now DECODED (pins below); the
    remaining boundary is progressive/arithmetic JPEG + unknown containers.
    Magic-only blobs with no decodable body are malformed, not
    out-of-boundary: ValueError per the decode_pixels error contract."""
    import pytest as _pytest

    from kausaldb_spark.sources.multimodal import decode_pixels

    with _pytest.raises(ValueError):
        decode_pixels(b"GIF89a" + b"\x00" * 32)  # no image descriptor
    with _pytest.raises(ValueError):
        decode_pixels(b"\xff\xd8\xff\xe0" + b"\x00" * 32)  # SOI, no SOF/SOS
    with _pytest.raises(NotImplementedError):
        decode_pixels(b"RIFFxxxxWEBP" + b"\x00" * 16)  # unknown container


def test_corrupt_payloads_are_per_row_isolated(spark):
    """ADVICE r7 (medium): corrupt/truncated payloads used to raise
    zlib.error / struct.error straight through the Arrow stage and fail the
    whole Spark task. decode_pixels now normalizes every codec-layer error
    to ValueError, so one bad image lands as an err row, never a job kill."""
    import pytest as _pytest

    from kausaldb_spark.sources import multimodal as mm

    img = _rand_img(32, 32, 3, seed=3)  # phash needs >= 32x32
    good_png = _png_encode(img, 2, [0])
    # Corrupt the IDAT payload bytes (keeps chunk framing; zlib stream broken)
    corrupt = bytearray(good_png)
    idat_at = good_png.index(b"IDAT")
    for off in range(idat_at + 4, idat_at + 12):
        corrupt[off] ^= 0xA5
    corrupt_png = bytes(corrupt)
    trunc_bmp = _bmp_encode(img)[:20]          # header cut mid-BITMAPINFOHEADER
    short_idat = good_png[: idat_at + 4]        # PNG truncated inside IDAT
    zero_dim = _bmp_encode(img)[:18] + (0).to_bytes(4, "little", signed=True) + _bmp_encode(img)[22:]

    for payload in (corrupt_png, trunc_bmp, short_idat, zero_dim):
        with _pytest.raises((ValueError, NotImplementedError)):
            mm.decode_pixels(payload)

    assets = spark.createDataFrame(
        [
            ("ok", "image", bytearray(good_png), {}),
            ("corrupt_png", "image", bytearray(corrupt_png), {}),
            ("trunc_bmp", "image", bytearray(trunc_bmp), {}),
            ("zero_dim_bmp", "image", bytearray(zero_dim), {}),
        ],
        "asset_id string, kind string, payload binary, meta map<string,string>",
    )
    bands = {r["asset_id"]: r for r in mm.image_phash_bands(assets).collect()}
    assert bands["ok"]["err"] is None and bands["ok"]["b0"] is not None
    for bad in ("corrupt_png", "trunc_bmp", "zero_dim_bmp"):
        assert bands[bad]["err"] and bands[bad]["b0"] is None


# -- baseline JPEG pins (r10) -------------------------------------------------
# Independent minimal encoder, same discipline as _png_encode/_bmp_encode:
# forward DCT + quantize + canonical huffman straight off T.81, sharing NO
# code with the decoder. Uniform-length canonical tables (DC: 12 symbols at
# 5 bits, AC: 162 symbols at 8 bits) keep the table blob out of the test;
# all-ones codes are never assigned (the longest code is 161 < 255).

_JZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_J_DC_SYMS = list(range(12))
# 0x00 (EOB) .. 0xE0: the s=0 symbols double as progressive EOBn run codes
# (EOBRUN = (1<<r) + r extra bits); 0xF0 is ZRL in both modes
_J_AC_SYMS = [0x00, 0xF0] + [r << 4 for r in range(1, 15)] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
# 12-bit precision widens the magnitude categories (T.81 F.1.2.1): DC
# SSSS up to 15, AC SSSS up to 14 — 240 AC symbols still fit one 8-bit
# canonical length with no all-ones code
_J_DC_SYMS_12 = list(range(16))
_J_AC_SYMS_12 = [0x00, 0xF0] + [r << 4 for r in range(1, 15)] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]


def _j_tables(precision):
    if precision == 12:
        return (_J_DC_SYMS_12, _J_AC_SYMS_12)
    return (_J_DC_SYMS, _J_AC_SYMS)


def _j_codes(nbits, syms):
    """Canonical code assignment for a single-length table."""
    return {sym: (nbits, i) for i, sym in enumerate(syms)}


class _JBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, nbits, val):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s per spec


def _j_dct_basis():
    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


def _j_encode_block(bw, block, pred, qnat, dc, ac, half=128.0):
    import numpy as np

    a = _j_dct_basis()
    f = a @ (block.astype(float) - half) @ a.T
    fq = np.rint(f / qnat).astype(int)
    zz = [int(fq.flat[i]) for i in _JZZ]

    def cat(v):
        return int(abs(v)).bit_length()

    def put_val(t, v):
        if t:
            bw.put(t, v if v >= 0 else v + (1 << t) - 1)

    diff = zz[0] - pred
    t = cat(diff)
    bw.put(*dc[t])
    put_val(t, diff)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*ac[0xF0])
            run -= 16
        s = cat(zz[k])
        bw.put(*ac[(run << 4) | s])
        put_val(s, zz[k])
        run = 0
    if last_nz < 63:
        bw.put(*ac[0x00])  # EOB
    return zz[0]


def _jpeg_encode(img, subsample=False, restart_interval=0, q=1, precision=8):
    """Sequential JPEG: 4:4:4 (or 4:2:0 with `subsample`), flat quant
    table `q` (1 = near-lossless round-trip), optional DRI. precision=12
    emits extended-sequential (SOF1) with 2^11 level shift and the wide
    magnitude-category tables."""
    import struct

    import numpy as np

    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    half = float(1 << (precision - 1))
    dsyms, asyms = _j_tables(precision)
    dc = _j_codes(5, dsyms)
    ac = _j_codes(8, asyms)
    qzz = bytes([q] * 64)
    qnat = np.full((8, 8), float(q))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qzz
    sy = (2, 2) if (subsample and ch == 3) else (1, 1)
    comps = [(1, sy, 0)] + ([(2, (1, 1), 0), (3, (1, 1), 0)] if ch == 3 else [])
    sof = struct.pack(">BHHB", precision, h, w, len(comps))
    for cid, (hs, vs), tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += (b"\xff\xc1" if precision == 12 else b"\xff\xc0") + struct.pack(
        ">H", 2 + len(sof)
    ) + sof
    for tc, syms, ln in ((0, dsyms, 5), (1, asyms, 8)):
        bits = [0] * 16
        bits[ln - 1] = len(syms)
        payload = bytes([tc << 4]) + bytes(bits) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for cid, _hv, _tq in comps:
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # planes: YCbCr (or gray), padded to MCU multiples by edge replication
    if ch == 3:
        rgb = img.astype(float)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = half - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
        cr = half + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
        planes = [y, cb, cr]
    else:
        planes = [img.reshape(h, w).astype(float)]
    hmax, vmax = comps[0][1]
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def pad(p, ph, pw):
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), "edge")

    prepped = []
    for (cid, (hs, vs), _tq), p in zip(comps, planes):
        if (hs, vs) != (hmax, vmax):  # subsample chroma by box average
            p = pad(p, mcuy * vmax * 8, mcux * hmax * 8)
            fy, fx = vmax // vs, hmax // hs
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean((1, 3))
        else:
            p = pad(p, mcuy * vs * 8, mcux * hs * 8)
        prepped.append(p)

    bw = _JBitWriter()
    preds = [0] * len(comps)
    rst = 0
    for mcu in range(mcux * mcuy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()
            out += bw.out
            bw = _JBitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for ci, (cid, (hs, vs), _tq) in enumerate(comps):
            for b in range(vs * hs):
                by, bx = my * vs + b // hs, mx * hs + b % hs
                blk = prepped[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                preds[ci] = _j_encode_block(
                    bw, blk, preds[ci], qnat, dc, ac, half
                )
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def test_jpeg_baseline_roundtrip_444():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    img = _rand_img(13, 11, 3, seed=42)  # non-multiple-of-8 dims
    data = _jpeg_encode(img)
    assert probe_format_mode(data) == ("jpeg", "baseline", True)
    got = decode_pixels(data)
    assert got.shape == (13, 11, 3)
    # flat q=1 tables: error = DCT/quant rounding + two color conversions
    assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= 4


def test_jpeg_baseline_roundtrip_grayscale():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img(16, 8, 1, seed=9)
    got = decode_pixels(_jpeg_encode(img))
    assert got.shape == (16, 8, 1)
    # no color conversion: pure DCT rounding
    assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= 2


def test_jpeg_420_subsampling_and_restart_intervals():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    # smooth gradient: chroma box-average loses almost nothing
    yy, xx = np.mgrid[0:24, 0:20]
    img = np.stack(
        [(yy * 5) % 256, (xx * 7) % 256, ((yy + xx) * 3) % 256], -1
    ).astype(np.uint8)
    base = decode_pixels(_jpeg_encode(img, subsample=True))
    assert base.shape == (24, 20, 3)
    assert float(np.abs(base.astype(int) - img.astype(int)).mean()) <= 6.0
    # restart markers change the byte stream but not the coefficients:
    # decoded output must be IDENTICAL
    with_rst = decode_pixels(_jpeg_encode(img, subsample=True, restart_interval=2))
    assert np.array_equal(base, with_rst)


def test_jpeg_error_contract():
    import struct

    import pytest as _pytest

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img(8, 8, 1, seed=1)
    data = _jpeg_encode(img)
    # truncated entropy stream -> ValueError (never a crash)
    with _pytest.raises(ValueError):
        decode_pixels(data[: len(data) - 6])
    # hierarchical (differential) SOF -> explicit NotImplementedError
    # boundary (arithmetic-DCT SOF9/SOFA decode since r12 — a huffman
    # stream relabeled SOF9 is now CORRUPTION territory, not boundary:
    # it must never raise NotImplementedError; garbage-decode or
    # ValueError are both inside the per-row isolation contract)
    diff_sof = bytearray(data)
    diff_sof[diff_sof.index(b"\xff\xc0") + 1] = 0xCD
    with _pytest.raises(NotImplementedError):
        decode_pixels(bytes(diff_sof))
    relabeled = bytearray(data)
    relabeled[relabeled.index(b"\xff\xc0") + 1] = 0xC9
    try:
        decode_pixels(bytes(relabeled))
    except ValueError:
        pass
    # SOF2 flag on a baseline full-band scan header (Ss=0, Se=63) is an
    # invalid progressive stream, not a boundary: ValueError (r11 —
    # progressive itself now decodes)
    prog = bytearray(data)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_pixels(bytes(prog))
    # headerless blob (SOI then garbage) -> ValueError
    with _pytest.raises(ValueError):
        decode_pixels(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    # 12-bit SOF0 is MALFORMED (T.81: baseline is 8-bit by definition) —
    # ValueError, not a codec boundary; 12-bit SOF1/SOF2 decode since r11
    twelve = bytearray(data)
    sof_at = twelve.index(b"\xff\xc0")
    twelve[sof_at + 4] = 12
    with _pytest.raises(ValueError):
        decode_pixels(bytes(twelve))
    # 14-bit precision stays outside the boundary
    fourteen = bytearray(data)
    fourteen[sof_at + 1] = 0xC1
    fourteen[sof_at + 4] = 14
    with _pytest.raises(NotImplementedError):
        decode_pixels(bytes(fourteen))


# -- GIF pins (r10): independent LZW-compressing encoder ----------------------

def _gif_lzw_encode(indices, mcs):
    """Real LZW compressor (dict-based, emits the KwKwK-producing stream a
    literal-only encoder never would). Width bump rule is the encoder-side
    mirror of the decoder's (one code later: the decoder adds its entry
    only after the second code), clear emitted as the table nears 4096."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = [0, 0]  # bit accumulator: value, nbits (LSB-first packing)

    state = {"width": mcs + 1, "next": eoi + 1, "dict": {}}

    def emit(code):
        v, n = acc
        v |= code << n
        n += state["width"]
        while n >= 8:
            out.append(v & 0xFF)
            v >>= 8
            n -= 8
        acc[0], acc[1] = v, n

    def reset_table():
        state["dict"] = {(i,): i for i in range(clear)}
        state["next"] = eoi + 1
        state["width"] = mcs + 1

    reset_table()
    emit(clear)
    cur = ()
    for p in indices:
        p = int(p)
        nxt = cur + (p,)
        if nxt in state["dict"]:
            cur = nxt
            continue
        emit(state["dict"][cur])
        state["dict"][nxt] = state["next"]
        state["next"] += 1
        if state["next"] == (1 << state["width"]) + 1 and state["width"] < 12:
            state["width"] += 1
        if state["next"] >= 4095:
            emit(clear)
            reset_table()
        cur = (p,)
    if cur:
        emit(state["dict"][cur])
    emit(eoi)
    if acc[1]:
        out.append(acc[0] & 0xFF)
    return bytes(out)


def _gif_encode(img_idx, palette, local_table=False, interlace=False, w=None, h=None):
    """Independent GIF89a writer: logical screen + global or local color
    table, optional interlace row permutation, sub-block framing."""
    import struct

    import numpy as np

    ih, iw = img_idx.shape
    w, h = w or iw, h or ih
    n = len(palette)
    size_field = max(1, (n - 1).bit_length()) - 1  # 2 << f entries
    pal_bytes = bytearray()
    for r, g, b in palette:
        pal_bytes += bytes([r, g, b])
    pal_bytes += b"\x00" * (3 * ((2 << size_field) - n))

    out = bytearray(b"GIF89a") + struct.pack("<HH", w, h)
    if local_table:
        out += bytes([0x00, 0, 0])  # no GCT
    else:
        out += bytes([0x80 | size_field, 0, 0]) + pal_bytes
    # a graphic-control extension the decoder must skip
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    iflags = (0x80 | size_field if local_table else 0) | (0x40 if interlace else 0)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, iw, ih) + bytes([iflags])
    if local_table:
        out += pal_bytes
    rows = img_idx
    if interlace:
        order = (
            list(range(0, ih, 8)) + list(range(4, ih, 8))
            + list(range(2, ih, 4)) + list(range(1, ih, 2))
        )
        rows = img_idx[order]
    mcs = max(2, size_field + 1)
    out += bytes([mcs])
    lzw = _gif_lzw_encode(rows.reshape(-1).tolist(), mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_roundtrip_and_variants():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    rng = np.random.RandomState(5)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (17, 34, 51)]
    idx = rng.randint(0, 4, size=(9, 7))
    want = np.array(palette, np.uint8)[idx]

    got = decode_pixels(_gif_encode(idx, palette))
    assert got.shape == (9, 7, 3)
    assert np.array_equal(got, want)

    # local color table + interlace exercise their own paths
    got_l = decode_pixels(_gif_encode(idx, palette, local_table=True))
    assert np.array_equal(got_l, want)
    got_i = decode_pixels(_gif_encode(idx, palette, interlace=True))
    assert np.array_equal(got_i, want)


def test_gif_lzw_table_growth_and_clear():
    """Large random-index image: the LZW dict crosses several width bumps
    and the 4096-entry clear — the growth/deferred-clear machinery, plus
    the KwKwK case real compression produces."""
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    rng = np.random.RandomState(11)
    palette = [(i * 16, 255 - i * 16, i) for i in range(16)]
    idx = rng.randint(0, 16, size=(96, 128))
    got = decode_pixels(_gif_encode(idx, palette))
    want = np.array(palette, np.uint8)[idx]
    assert np.array_equal(got, want)
    # KwKwK explicitly: a run-heavy stream (aaa bbb aaa ...) hits it early
    runs = np.repeat(rng.randint(0, 4, size=200), 3).reshape(20, 30)
    pal4 = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    got2 = decode_pixels(_gif_encode(runs, pal4))
    assert np.array_equal(got2, np.array(pal4, np.uint8)[runs])


def test_gif_frame_on_larger_screen_and_errors():
    import numpy as np
    import pytest as _pytest

    from kausaldb_spark.sources.multimodal import decode_pixels

    palette = [(9, 9, 9), (200, 100, 50)]
    idx = np.ones((3, 4), int)
    data = _gif_encode(idx, palette, w=6, h=5)
    got = decode_pixels(data)
    assert got.shape == (5, 6, 3)
    assert np.array_equal(got[:3, :4], np.array(palette, np.uint8)[idx])
    assert tuple(got[4, 5]) == (9, 9, 9)  # background = table entry 0

    # truncated LZW -> ValueError
    with _pytest.raises(ValueError):
        decode_pixels(data[: len(data) - 4])


# -- codec property tests (r10): hypothesis over the encoder/decoder pair ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        ch=st.sampled_from([1, 3]),
        seed=st.integers(0, 2**31 - 1),
        subsample=st.booleans(),
        dri=st.sampled_from([0, 1, 3]),
        q=st.sampled_from([1, 2]),
    )
    def test_jpeg_roundtrip_hypothesis(h, w, ch, seed, subsample, dri, q):
        """Random dims (incl. 1-pixel edges and non-multiple-of-8/16),
        channels, subsampling, restart intervals, and two quant levels:
        decode(encode(img)) stays within the quantization error bound and
        never crashes."""
        import numpy as np

        from kausaldb_spark.sources.multimodal import decode_pixels

        img = _rand_img(h, w, ch, seed=seed % 100000)
        sub = subsample and ch == 3
        got = decode_pixels(
            _jpeg_encode(img, subsample=sub, restart_interval=dri, q=q)
        )
        assert got.shape == (h, w, ch)
        if not sub:
            # flat-q rounding bound: ~4q plus color-convert rounding
            bound = 4 * q + (4 if ch == 3 else 0)
            assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= bound

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 48),
        w=st.integers(1, 48),
        n_colors=st.sampled_from([2, 4, 16, 64]),
        seed=st.integers(0, 2**31 - 1),
        local_table=st.booleans(),
        interlace=st.booleans(),
    )
    def test_gif_roundtrip_hypothesis(h, w, n_colors, seed, local_table, interlace):
        """Random dims, palette sizes (all LZW min-code widths 2..6),
        table placement, and interlacing: GIF round-trips bit-exact."""
        import numpy as np

        rng = np.random.RandomState(seed % 100000)
        palette = [
            (int(rng.randint(256)), int(rng.randint(256)), int(rng.randint(256)))
            for _ in range(n_colors)
        ]
        idx = rng.randint(0, n_colors, size=(h, w))
        got = decode = None
        from kausaldb_spark.sources.multimodal import decode_pixels

        got = decode_pixels(
            _gif_encode(idx, palette, local_table=local_table, interlace=interlace)
        )
        assert np.array_equal(got, np.array(palette, np.uint8)[idx])


# -- codec-boundary coverage probe (r11: r10 verdict item 5) ------------------

def test_probe_format_mode_on_independent_encoders():
    """Real encoder output (the independent test-side encoders) must probe
    decodable with the right mode — the probe is the number a 100 TB run
    uses to size the decode-stage loss, so it must agree with what
    decode_pixels actually accepts."""
    import numpy as np

    from kausaldb_spark.sources.multimodal import probe_format_mode

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3) % 251
    assert probe_format_mode(_png_encode(img, 2, [0] * 16)) == (
        "png", "depth8-ctype2", True)
    assert probe_format_mode(_bmp_encode(img, bpp=24)) == (
        "bmp", "comp0-24bpp", True)
    assert probe_format_mode(_jpeg_encode(img)) == ("jpeg", "baseline", True)
    pal = [(3 * i, 3 * i + 1, 3 * i + 2) for i in range(16)]
    gif = _gif_encode((np.zeros((8, 8), np.int64) + 3), pal)
    assert probe_format_mode(gif) == ("gif", "single-frame", True)
    assert probe_format_mode(b"plainly not an image") == (
        "unknown", None, False)


def test_probe_format_mode_matches_decode_boundary():
    """Every FORMAT_CLASSES fixture class must (a) probe to its declared
    triple and (b) have decode_pixels agree with the decodable flag:
    decodable classes never raise NotImplementedError (junk entropy data
    may still ValueError — corruption, not boundary), boundary classes
    never silently decode."""
    import pytest

    from kausaldb_spark.sources import multimodal as mm

    for k, (fmt, mode, ok) in enumerate(mm.FORMAT_CLASSES):
        for salt in (0, 9, 12345):
            payload = mm.synth_container(k, salt)
            assert probe_format_mode_tuple(payload) == (fmt, mode, ok), (k, salt)
        try:
            mm.decode_pixels(mm.synth_container(k, 1))
            outcome = "decoded"
        except NotImplementedError:
            outcome = "boundary"
        except ValueError:
            outcome = "corrupt"
        if ok:
            assert outcome in ("decoded", "corrupt"), (k, fmt, mode, outcome)
        else:
            assert outcome == "boundary", (k, fmt, mode, outcome)


def probe_format_mode_tuple(payload):
    from kausaldb_spark.sources.multimodal import probe_format_mode

    return probe_format_mode(payload)


def test_decode_coverage_stage(spark):
    """decode_coverage over a crafted asset mix: counts per (format, mode,
    decodable) and nothing dropped — 'decodable %' is derivable and every
    asset is accounted for."""
    from kausaldb_spark.sources import multimodal as mm

    n_cls = len(mm.FORMAT_CLASSES)
    rows = [(str(i), mm.synth_container(i % n_cls, i)) for i in range(4 * n_cls)]
    assets = spark.createDataFrame(rows, "asset_id string, payload binary")
    got = {
        (r["format"], r["mode"], r["decodable"]): r["n_assets"]
        for r in mm.decode_coverage(assets).collect()
    }
    assert sum(got.values()) == 4 * n_cls  # every asset classified once
    for k, (fmt, mode, ok) in enumerate(mm.FORMAT_CLASSES):
        assert got[(fmt, mode, ok)] == 4
    n_dec = sum(n for (f, m, ok), n in got.items() if ok)
    # 15 of 17 classes are inside the boundary (r11: huffman progressive,
    # 12-bit extended-sequential AND lossless moved inside; r12: both
    # arithmetic-DCT classes, hierarchical, 16-bit/palette/interlaced PNG
    # and RLE8 BMP moved in — only 'unknown' and arithmetic-lossless JPEG
    # remain outside)
    assert n_dec == 4 * sum(1 for (_f, _m, ok) in mm.FORMAT_CLASSES if ok)
    assert sum(1 for (_f, _m, ok) in mm.FORMAT_CLASSES if not ok) == 2


# -- progressive JPEG pins (r11): independent multi-scan encoder --------------
# Same discipline as _jpeg_encode: forward DCT + quantize once, then emit a
# SOF2 scan script (spectral selection + successive approximation) sharing
# NO code with the decoder. The entropy layer is lossless, so progressive
# and baseline encodings of the SAME image must decode to IDENTICAL pixels
# — the round-trips below assert exact equality, not a bound.


class _JEobState:
    def __init__(self):
        self.eobrun = 0
        self.corr = []  # correction bits deferred until the EOBn flush


def _j_flush_eobrun(state, ac, bw):
    if state.eobrun == 0:
        return
    r = state.eobrun.bit_length() - 1
    bw.put(*ac[r << 4])
    if r:
        bw.put(r, state.eobrun - (1 << r))
    for b in state.corr:
        bw.put(1, b)
    state.eobrun = 0
    state.corr = []


def _j_trunc(v, al):
    # AC point transform: magnitude shift (truncation toward zero)
    return (v >> al) if v >= 0 else -((-v) >> al)


def _j_ac_first_block(state, band, al, ac, bw):
    ts = [_j_trunc(v, al) for v in band]
    if not any(ts):
        state.eobrun += 1
        if state.eobrun == 0x7FFF:
            _j_flush_eobrun(state, ac, bw)
        return
    _j_flush_eobrun(state, ac, bw)
    run = 0
    last_nz = max(i for i, t in enumerate(ts) if t)
    for i, t in enumerate(ts[: last_nz + 1]):
        if t == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*ac[0xF0])
            run -= 16
        s = abs(t).bit_length()
        bw.put(*ac[(run << 4) | s])
        bw.put(s, t if t >= 0 else t + (1 << s) - 1)
        run = 0
    if last_nz < len(ts) - 1:
        state.eobrun += 1
        if state.eobrun == 0x7FFF:
            _j_flush_eobrun(state, ac, bw)


def _j_ac_refine_block(state, band, ah, al, ac, bw):
    tnew = [_j_trunc(v, al) for v in band]
    absv = [abs(t) for t in tnew]
    # newly nonzero at this precision <=> |tnew| == 1 (history magnitudes
    # are >= 2 after the appended bit)
    eob_pos = -1
    for i, a in enumerate(absv):
        if a == 1:
            eob_pos = i
    r = 0
    pend = []
    for i, t in enumerate(tnew):
        a = absv[i]
        if a == 0:
            r += 1
            continue
        while r > 15 and i <= eob_pos:
            _j_flush_eobrun(state, ac, bw)
            bw.put(*ac[0xF0])
            r -= 16
            for b in pend:
                bw.put(1, b)
            pend = []
        if a > 1:
            pend.append(a & 1)
            continue
        _j_flush_eobrun(state, ac, bw)
        bw.put(*ac[(r << 4) | 1])
        bw.put(1, 1 if t > 0 else 0)
        r = 0
        for b in pend:
            bw.put(1, b)
        pend = []
    if r > 0 or pend:
        state.eobrun += 1
        state.corr.extend(pend)
        if state.eobrun == 0x7FFF:
            _j_flush_eobrun(state, ac, bw)


def _jpeg_encode_progressive(img, q=1, subsample=False, script=None,
                             restart_interval=0, precision=8):
    """SOF2 progressive encoder. Default script: DC first at Al=1 for all
    components (interleaved), DC refinement, then per-component AC band
    scans at Al=1 (split bands for component 0) and AC refinements to
    Al=0. `script` entries: ("dc", ah, al) or ("ac", ci, ss, se, ah, al).
    """
    import struct

    import numpy as np

    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    half = float(1 << (precision - 1))
    dsyms, asyms = _j_tables(precision)
    dc = _j_codes(5, dsyms)
    ac = _j_codes(8, asyms)
    qnat = np.full((8, 8), float(q))
    a = _j_dct_basis()

    sy = (2, 2) if (subsample and ch == 3) else (1, 1)
    comps = [(1, sy, 0)] + ([(2, (1, 1), 0), (3, (1, 1), 0)] if ch == 3 else [])
    hmax, vmax = comps[0][1]
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    if ch == 3:
        rgb = img.astype(float)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = half - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
        cr = half + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
        planes = [y, cb, cr]
    else:
        planes = [img.reshape(h, w).astype(float)]

    def pad(p, ph, pw):
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), "edge")

    coefs = []  # per comp: [bh][bw] -> 64-list zigzag ints
    bdims = []
    for (cid, (hs, vs), _tq), p in zip(comps, planes):
        if (hs, vs) != (hmax, vmax):
            p = pad(p, mcuy * vmax * 8, mcux * hmax * 8)
            fy, fx = vmax // vs, hmax // hs
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean((1, 3))
        else:
            p = pad(p, mcuy * vs * 8, mcux * hs * 8)
        bh, bwid = p.shape[0] // 8, p.shape[1] // 8
        arr = []
        for by in range(bh):
            row = []
            for bx in range(bwid):
                blk = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                f = a @ (blk - half) @ a.T
                fq = np.rint(f / qnat).astype(int)
                row.append([int(fq.flat[i]) for i in _JZZ])
            arr.append(row)
        coefs.append(arr)
        # non-interleaved scans cover the component's SPEC block grid
        # (ceil(comp_dim / 8)), not the MCU-padded grid the DC
        # interleaved scan walks — padded blocks are simply never coded
        comp_w = -(-w * hs // hmax)
        comp_h = -(-h * vs // vmax)
        bdims.append((-(-comp_h // 8), -(-comp_w // 8)))

    if script is None:
        script = [("dc", 0, 1), ("dc", 1, 0)]
        for ci in range(len(comps)):
            if ci == 0:
                script += [("ac", 0, 1, 5, 0, 1), ("ac", 0, 6, 63, 0, 1)]
                script += [("ac", 0, 1, 5, 1, 0), ("ac", 0, 6, 63, 1, 0)]
            else:
                script += [("ac", ci, 1, 63, 0, 1), ("ac", ci, 1, 63, 1, 0)]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([q] * 64)
    sof = struct.pack(">BHHB", precision, h, w, len(comps))
    for cid, (hs, vs), tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, syms, ln in ((0, dsyms, 5), (1, asyms, 8)):
        bits = [0] * 16
        bits[ln - 1] = len(syms)
        payload = bytes([tc << 4]) + bytes(bits) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    rst = [0]

    def run_scan(scan):
        nonlocal out
        kind = scan[0]
        bw = _JBitWriter()

        def restart_flush():
            bw.flush()
            nonlocal out
            out += bw.out
            out_marker = bytes([0xFF, 0xD0 + (rst[0] % 8)])
            rst[0] += 1
            return out_marker

        if kind == "dc":
            _, ah, al = scan
            sos = bytes([len(comps)])
            for cid, _hv, _tq in comps:
                sos += bytes([cid, 0x00])
            sos += bytes([0, 0, (ah << 4) | al])
            out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
            preds = [0] * len(comps)
            for mcu in range(mcux * mcuy):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    out += restart_flush()
                    bw = _JBitWriter()
                    preds = [0] * len(comps)
                my, mx = divmod(mcu, mcux)
                for ci, (cid, (hs, vs), _tq) in enumerate(comps):
                    for b in range(vs * hs):
                        by, bx = my * vs + b // hs, mx * hs + b % hs
                        v = coefs[ci][by][bx][0]
                        if ah == 0:
                            t = v >> al  # DC: arithmetic shift per T.81
                            diff = t - preds[ci]
                            preds[ci] = t
                            s = abs(diff).bit_length()
                            bw.put(*dc[s])
                            if s:
                                bw.put(s, diff if diff >= 0 else diff + (1 << s) - 1)
                        else:
                            bw.put(1, (v >> al) & 1)
        else:
            _, ci, ss, se, ah, al = scan
            cid = comps[ci][0]
            sos = bytes([1, cid, 0x00, ss, se, (ah << 4) | al])
            out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
            bh, bwid = bdims[ci]
            state = _JEobState()
            for unit in range(bh * bwid):
                if restart_interval and unit and unit % restart_interval == 0:
                    _j_flush_eobrun(state, ac, bw)
                    out += restart_flush()
                    bw = _JBitWriter()
                    state = _JEobState()
                by, bx = divmod(unit, bwid)
                band = coefs[ci][by][bx][ss:se + 1]
                if ah == 0:
                    _j_ac_first_block(state, band, al, ac, bw)
                else:
                    _j_ac_refine_block(state, band, ah, al, ac, bw)
            _j_flush_eobrun(state, ac, bw)
        bw.flush()
        out += bw.out

    for scan in script:
        run_scan(scan)
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_equals_baseline_gray():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    img = _rand_img(13, 11, 1, seed=7)
    prog = _jpeg_encode_progressive(img)
    assert probe_format_mode(prog) == ("jpeg", "progressive", True)
    base = decode_pixels(_jpeg_encode(img))
    got = decode_pixels(prog)
    assert np.array_equal(got, base)  # lossless entropy layer: exact


def test_jpeg_progressive_equals_baseline_rgb():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img(24, 17, 3, seed=8)
    got = decode_pixels(_jpeg_encode_progressive(img))
    base = decode_pixels(_jpeg_encode(img))
    assert np.array_equal(got, base)


def test_jpeg_progressive_subsampled_and_restarts():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img(33, 18, 3, seed=9)  # non-multiple-of-16 dims
    base = decode_pixels(_jpeg_encode(img, subsample=True))
    got = decode_pixels(_jpeg_encode_progressive(img, subsample=True))
    assert np.array_equal(got, base)
    # restart intervals inside progressive scans (DC preds + EOB runs reset)
    got_rst = decode_pixels(
        _jpeg_encode_progressive(img, subsample=True, restart_interval=2)
    )
    assert np.array_equal(got_rst, base)


def test_jpeg_progressive_deep_successive_approximation():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    # 3 refinement levels + split bands: exercises ZRL-in-refinement,
    # correction-bit buffering across EOB runs, and multi-bit DC approx
    img = _rand_img(16, 16, 1, seed=10)
    script = [
        ("dc", 0, 2), ("dc", 1, 1), ("dc", 1, 0),
        ("ac", 0, 1, 2, 0, 2), ("ac", 0, 3, 63, 0, 2),
        ("ac", 0, 1, 2, 1, 1), ("ac", 0, 3, 63, 1, 1),
        ("ac", 0, 1, 2, 2, 0), ("ac", 0, 3, 63, 2, 0),
    ]
    got = decode_pixels(_jpeg_encode_progressive(img, script=script))
    base = decode_pixels(_jpeg_encode(img))
    assert np.array_equal(got, base)


if _HAVE_HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        ch=st.sampled_from([1, 3]),
        seed=st.integers(0, 2**31 - 1),
        subsample=st.booleans(),
        dri=st.sampled_from([0, 1, 3]),
        q=st.sampled_from([1, 2]),
        deep=st.booleans(),
    )
    def test_jpeg_progressive_roundtrip_hypothesis(
        h, w, ch, seed, subsample, dri, q, deep
    ):
        """Progressive must decode to EXACTLY the baseline pixels of the
        same image at the same quantization — the entropy layer is
        lossless, so any deviation is a scan-machinery bug. Random dims
        (incl. 1-pixel edges), channels, subsampling, restart intervals,
        quant levels, and both the default script and a deep 3-level
        successive-approximation script."""
        import numpy as np

        from kausaldb_spark.sources.multimodal import decode_pixels

        img = _rand_img(h, w, ch, seed=seed % 100000)
        sub = subsample and ch == 3
        script = None
        if deep:
            script = [("dc", 0, 2), ("dc", 1, 1), ("dc", 1, 0)]
            for ci in range(3 if ch == 3 else 1):
                script += [
                    ("ac", ci, 1, 5, 0, 2), ("ac", ci, 6, 63, 0, 2),
                    ("ac", ci, 1, 5, 1, 1), ("ac", ci, 6, 63, 1, 1),
                    ("ac", ci, 1, 5, 2, 0), ("ac", ci, 6, 63, 2, 0),
                ]
        base = decode_pixels(_jpeg_encode(img, subsample=sub, q=q))
        got = decode_pixels(
            _jpeg_encode_progressive(
                img, q=q, subsample=sub, script=script, restart_interval=dri
            )
        )
        assert np.array_equal(got, base)


# -- 12-bit precision (SOF1 extended-sequential + SOF2 progressive) ----------


def _rand_img12(h, w, ch, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randint(0, 4096, size=(h, w, ch)).astype("uint16")


def test_jpeg_12bit_sequential_roundtrip_gray():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    img = _rand_img12(13, 11, 1, seed=31)
    data = _jpeg_encode(img, precision=12)
    assert probe_format_mode(data) == (
        "jpeg", "extended-sequential-12bit", True
    )
    got = decode_pixels(data)
    assert got.shape == (13, 11, 1) and got.dtype == np.uint8
    # flat q=1: error in the 12-bit domain <= ~4, so the uint8-scaled
    # planes (floor(v/16)) differ by at most 1
    want = (img >> 4).astype(int)
    assert int(np.abs(got.astype(int) - want).max()) <= 1


def test_jpeg_12bit_sequential_roundtrip_rgb():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img12(16, 9, 3, seed=32)
    got = decode_pixels(_jpeg_encode(img, precision=12))
    assert got.shape == (16, 9, 3)
    # two 12-bit color conversions add a little more rounding than gray
    want = (img >> 4).astype(int)
    assert int(np.abs(got.astype(int) - want).max()) <= 2


def test_jpeg_12bit_progressive_equals_sequential():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    img = _rand_img12(13, 11, 3, seed=33)
    prog = _jpeg_encode_progressive(img, precision=12)
    assert probe_format_mode(prog) == ("jpeg", "progressive-12bit", True)
    got = decode_pixels(prog)
    base = decode_pixels(_jpeg_encode(img, precision=12))
    # the entropy layer is lossless, so progressive must match the
    # sequential encoding of the same image EXACTLY
    assert np.array_equal(got, base)


def test_jpeg_12bit_with_restarts_and_subsampling():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img12(20, 18, 3, seed=34)
    got = decode_pixels(_jpeg_encode(img, precision=12, subsample=True,
                                     restart_interval=2))
    assert got.shape == (20, 18, 3)
    base = decode_pixels(_jpeg_encode(img, precision=12, subsample=True))
    # restart segmentation changes DC prediction resets only; with the
    # same subsampling the decoded planes agree exactly
    assert np.array_equal(got, base)


# -- lossless JPEG pins (r11): independent SOF3 encoder -----------------------
# Same discipline as the other encoders: built from T.81 Annex H text,
# sharing NO code with the decoder. Lossless means the round-trips below
# assert EXACT equality (after the documented uint8 scaling for P > 8).

_J_DC_SYMS_LL = list(range(17))  # lossless SSSS reaches 16 (diff = +32768)


def _jpeg_encode_lossless(img, predictor=4, precision=8, pt=0,
                          restart_interval=0):
    import struct

    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    dc = _j_codes(5, _J_DC_SYMS_LL)

    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, ch)
    for cid in range(1, ch + 1):
        sof += bytes([cid, 0x11, 0])
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sof)) + sof
    bits = [0] * 16
    bits[4] = len(_J_DC_SYMS_LL)
    payload = bytes([0x00]) + bytes(bits) + bytes(_J_DC_SYMS_LL)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ch])
    for cid in range(1, ch + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([predictor, 0, pt])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    planes = [
        (img[..., c].astype(int) >> pt) for c in range(ch)
    ] if img.ndim == 3 else [(img.astype(int) >> pt)]
    default = 1 << (precision - pt - 1)

    def pred_of(p, y, x):
        if y == 0:
            return int(p[0, x - 1])
        if x == 0:
            return int(p[y - 1, 0])
        a, b, c = int(p[y, x - 1]), int(p[y - 1, x]), int(p[y - 1, x - 1])
        return {
            1: a, 2: b, 3: c, 4: a + b - c,
            5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1), 7: (a + b) >> 1,
        }[predictor]

    bw = _JBitWriter()
    rst = 0
    fresh = True
    for mcu in range(h * w):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()
            out += bw.out
            bw = _JBitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            fresh = True
        y, x = divmod(mcu, w)
        for p in planes:
            pred = default if fresh else pred_of(p, y, x)
            d = (int(p[y, x]) - pred) & 0xFFFF
            if d > 0x8000:
                d -= 0x10000  # signed representative in (-32768, 32768]
            if d == 0x8000:
                bw.put(*dc[16])  # SSSS=16: diff = +32768, no extra bits
                continue
            t = int(abs(d)).bit_length()
            bw.put(*dc[t])
            if t:
                bw.put(t, d if d >= 0 else d + (1 << t) - 1)
        fresh = False
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def test_jpeg_lossless_exact_roundtrip_all_predictors():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    img = _rand_img(9, 7, 3, seed=41)
    for sel in range(1, 8):
        data = _jpeg_encode_lossless(img, predictor=sel)
        if sel == 1:
            assert probe_format_mode(data) == ("jpeg", "lossless", True)
        got = decode_pixels(data)
        assert got.shape == (9, 7, 3)
        assert np.array_equal(got, img), f"predictor {sel}"


def test_jpeg_lossless_16bit_and_point_transform():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    rng = np.random.RandomState(43)
    img16 = rng.randint(0, 1 << 16, size=(8, 6, 1)).astype("uint32")
    data = _jpeg_encode_lossless(img16, precision=16)
    assert probe_format_mode(data) == ("jpeg", "lossless-16bit", True)
    got = decode_pixels(data)
    assert np.array_equal(got[..., 0], (img16[..., 0] >> 8).astype("uint8"))
    # point transform: coded samples are img >> pt, reconstruction
    # re-shifts — exact at 8-bit up to the pt-masked low bits
    img = _rand_img(6, 5, 1, seed=44)
    got = decode_pixels(_jpeg_encode_lossless(img, pt=2))
    assert np.array_equal(got[..., 0], (img[..., 0] >> 2) << 2)


def test_jpeg_lossless_restarts_and_gray():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = _rand_img(11, 13, 1, seed=45)
    got = decode_pixels(_jpeg_encode_lossless(img, predictor=7,
                                              restart_interval=5))
    assert np.array_equal(got, img)


def test_jpeg_lossless_subsampled_is_boundary():
    import pytest as _pytest

    from kausaldb_spark.sources.multimodal import decode_pixels, probe_format_mode

    data = bytearray(_jpeg_encode_lossless(_rand_img(8, 8, 3, seed=46)))
    sof_at = data.index(b"\xff\xc3")
    data[sof_at + 11] = 0x22  # first component 2x2 sampling
    assert probe_format_mode(bytes(data)) == (
        "jpeg", "lossless-subsampled", False
    )
    with _pytest.raises(NotImplementedError):
        decode_pixels(bytes(data))


try:
    from hypothesis import given as _ll_given, settings as _ll_settings
    from hypothesis import strategies as _ll_st

    @_ll_settings(max_examples=25, deadline=None)
    @_ll_given(
        h=_ll_st.integers(1, 12), w=_ll_st.integers(1, 12),
        ch=_ll_st.sampled_from([1, 3]),
        sel=_ll_st.integers(1, 7),
        precision=_ll_st.sampled_from([8, 12, 16]),
        pt=_ll_st.sampled_from([0, 1]),
        dri=_ll_st.sampled_from([0, 3]),
        seed=_ll_st.integers(0, 999),
    )
    def test_jpeg_lossless_roundtrip_hypothesis(h, w, ch, sel, precision,
                                                pt, dri, seed):
        import numpy as np

        from kausaldb_spark.sources.multimodal import decode_pixels

        rng = np.random.RandomState(seed)
        img = rng.randint(0, 1 << precision, size=(h, w, ch)).astype("uint32")
        got = decode_pixels(
            _jpeg_encode_lossless(img, predictor=sel, precision=precision,
                                  pt=pt, restart_interval=dri)
        )
        want = (img >> pt) << pt
        if precision > 8:
            want = want >> (precision - 8)
        assert np.array_equal(got, want.astype("uint8"))
except ImportError:  # pragma: no cover
    pass


# ---------------------------------------------------------------------------
# full-PNG closure (r12): palette / sub-byte / 16-bit / tRNS / Adam7, and
# palette+RLE8 BMP. Independent encoders follow, same discipline as
# _png_encode/_bmp_encode: forward filters + bit packing + Adam7 pass split
# written from the spec, so the decoder is exercised against the spec, not
# against itself. The expected-output model (_png_expected) restates the
# decode CONTRACT (16-bit -> high byte, sub-byte gray -> bit replication,
# tRNS -> alpha); the entropy/filter/interlace machinery is what the pins
# verify, since a single wrong reconstructed byte corrupts every later
# Paeth/Sub prediction.
# ---------------------------------------------------------------------------


def _png_chunk2(typ, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_pack_rows(sub, depth):
    """(ph, pw, ch) source-precision samples -> packed scanline bytes,
    sub-byte samples big-endian within each byte, rows byte-padded."""
    import struct

    h, w, ch = sub.shape
    rows = []
    for y in range(h):
        flat = sub[y].reshape(-1)
        if depth == 8:
            rows.append(bytes(int(v) & 0xFF for v in flat))
        elif depth == 16:
            rows.append(b"".join(struct.pack(">H", int(v)) for v in flat))
        else:
            bits = "".join(format(int(v), f"0{depth}b") for v in flat)
            bits += "0" * (-len(bits) % 8)
            rows.append(
                bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
            )
    return rows


def _png_filter_rows(rows, bpp, filters):
    """Forward PNG filters over one (sub-)image's packed scanlines."""
    out = bytearray()
    prev = bytes(len(rows[0]))
    for y, cur in enumerate(rows):
        f = filters[y % len(filters)]
        out.append(f)
        for i in range(len(cur)):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((cur[i] - pred) & 0xFF)
        prev = cur
    return out


_ADAM7_T = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_encode_full(samples, ctype, depth, filters=(0,), interlace=0,
                     plte=None, trns=None):
    """Independent spec-following PNG writer covering the full static
    surface: any valid depth/ctype, optional PLTE/tRNS, Adam7 interlace
    (forward pass split; empty passes contribute zero bytes)."""
    import struct
    import zlib

    h, w, ch = samples.shape
    bpp = max(1, ch * depth // 8)
    raw = bytearray()
    if interlace == 0:
        raw += _png_filter_rows(_png_pack_rows(samples, depth), bpp, filters)
    else:
        for x0, y0, dx, dy in _ADAM7_T:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += _png_filter_rows(_png_pack_rows(sub, depth), bpp, filters)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk2(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk2(b"PLTE", bytes(v for rgb in plte for v in rgb))
    if trns is not None:
        out += _png_chunk2(b"tRNS", trns)
    out += _png_chunk2(b"IDAT", zlib.compress(bytes(raw)))
    return out + _png_chunk2(b"IEND", b"")


def _png_expected(samples, ctype, depth, plte=None, trns=None):
    """The decode contract, restated independently: palette indirection,
    tRNS alpha, 16-bit high-byte reduction, sub-byte bit replication."""
    import numpy as np

    if ctype == 3:
        pal = np.array(plte, np.uint8)
        idx = samples[..., 0]
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    img = samples.astype(np.int64)
    if trns is not None:
        key = np.frombuffer(trns, ">u2").astype(np.int64)
        match = np.all(img == key, axis=2)
        img = np.dstack([img, np.where(match, 0, (1 << depth) - 1)])
    if depth == 16:
        return (img >> 8).astype(np.uint8)
    if depth == 8:
        return img.astype(np.uint8)
    return (img * 255 // ((1 << depth) - 1)).astype(np.uint8)


_PNG_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _rand_samples(h, w, ctype, depth, seed, n_pal=None):
    import numpy as np

    rng = np.random.RandomState(seed)
    hi = n_pal if ctype == 3 else (1 << depth)
    return rng.randint(0, hi, size=(h, w, _PNG_CH[ctype])).astype("int64")


def test_png_palette_decode_all_depths_with_and_without_trns():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    for depth in (1, 2, 4, 8):
        n_pal = min(1 << depth, 16)
        pal = [((i * 13) % 256, (i * 57) % 256, (i * 201) % 256)
               for i in range(n_pal)]
        img = _rand_samples(7, 5, 3, depth, seed=depth, n_pal=n_pal)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            data = _png_encode_full(img, 3, depth, filters, plte=pal)
            assert np.array_equal(
                decode_pixels(data), _png_expected(img, 3, depth, plte=pal)
            ), (depth, filters)
        # partial tRNS: first half of the palette gets explicit alphas,
        # the rest defaults opaque
        trns = bytes((i * 39) % 256 for i in range(n_pal // 2 + 1))
        data = _png_encode_full(img, 3, depth, [4], plte=pal, trns=trns)
        got = decode_pixels(data)
        want = _png_expected(img, 3, depth, plte=pal, trns=trns)
        assert got.shape[2] == 4 and np.array_equal(got, want), depth


def test_png_gray_sub_byte_depths_scale_by_bit_replication():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    for depth in (1, 2, 4):
        img = _rand_samples(6, 9, 0, depth, seed=10 + depth)
        for filters in ([0], [2], [0, 1, 2, 3, 4]):
            data = _png_encode_full(img, 0, depth, filters)
            got = decode_pixels(data)
            assert np.array_equal(got, _png_expected(img, 0, depth)), (
                depth, filters)
        # exact replication endpoints: 0 -> 0, max -> 255
        lo_hi = np.array([[[0], [(1 << depth) - 1]]], "int64")
        got = decode_pixels(_png_encode_full(lo_hi, 0, depth, [0]))
        assert got[0, 0, 0] == 0 and got[0, 1, 0] == 255


def test_png_16bit_all_color_types_reduce_to_high_byte():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    for ctype in (0, 2, 4, 6):
        img = _rand_samples(5, 4, ctype, 16, seed=20 + ctype)
        for filters in ([0], [1], [3], [0, 4, 2, 1, 3]):
            data = _png_encode_full(img, ctype, 16, filters)
            got = decode_pixels(data)
            assert np.array_equal(got, _png_expected(img, ctype, 16)), (
                ctype, filters)


def test_png_trns_color_key_gray_and_rgb():
    import struct

    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    # gray 8-bit: key = 77
    img = np.full((3, 3, 1), 50, "int64")
    img[1, 1, 0] = 77
    data = _png_encode_full(img, 0, 8, [0], trns=struct.pack(">H", 77))
    got = decode_pixels(data)
    assert got.shape == (3, 3, 2)
    assert got[1, 1, 1] == 0 and got[0, 0, 1] == 255
    # rgb 16-bit: key matches at SOURCE precision — a pixel equal in high
    # byte only must stay opaque
    key = (0x1234, 0x5678, 0x9ABC)
    img = np.zeros((2, 3, 3), "int64")
    img[0, 1] = key
    img[1, 2] = (0x1235, 0x5678, 0x9ABC)  # high bytes equal, low differ
    data = _png_encode_full(
        img, 2, 16, [2], trns=struct.pack(">HHH", *key))
    got = decode_pixels(data)
    assert got[0, 1, 3] == 0
    assert got[1, 2, 3] == 255  # source-precision comparison
    assert got[0, 0, 3] == 255
    # gray 4-bit key
    img = np.array([[[3], [9]]], "int64")
    data = _png_encode_full(img, 0, 4, [0], trns=struct.pack(">H", 9))
    got = decode_pixels(data)
    assert got[0, 1, 1] == 0 and got[0, 0, 1] == 255 and got[0, 0, 0] == 51


def test_png_adam7_interlace_geometry_sweep():
    """Adam7 across geometries that exercise empty passes (w or h < the
    pass origin), single-pixel images, and non-multiples of 8 — each must
    equal the same image encoded non-interlaced."""
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    for (h, w) in ((1, 1), (1, 4), (4, 1), (2, 3), (5, 7), (8, 8),
                   (9, 10), (3, 16), (16, 3), (13, 13)):
        img = _rand_samples(h, w, 2, 8, seed=h * 100 + w)
        for filters in ([0], [4], [0, 1, 2, 3, 4]):
            data = _png_encode_full(img, 2, 8, filters, interlace=1)
            got = decode_pixels(data)
            assert np.array_equal(got, _png_expected(img, 2, 8)), (
                h, w, filters)


def test_png_adam7_sub_byte_and_16bit_and_palette():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    # 2-bit palette interlaced: pass strides are fractional bytes
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    img = _rand_samples(11, 6, 3, 2, seed=3, n_pal=4)
    data = _png_encode_full(img, 3, 2, [0, 1], interlace=1, plte=pal)
    assert np.array_equal(
        decode_pixels(data), _png_expected(img, 3, 2, plte=pal))
    # 1-bit gray interlaced
    img = _rand_samples(9, 14, 0, 1, seed=4)
    data = _png_encode_full(img, 0, 1, [0, 2], interlace=1)
    assert np.array_equal(decode_pixels(data), _png_expected(img, 0, 1))
    # 16-bit RGBA interlaced with every filter
    img = _rand_samples(10, 9, 6, 16, seed=5)
    data = _png_encode_full(img, 6, 16, [0, 1, 2, 3, 4], interlace=1)
    assert np.array_equal(decode_pixels(data), _png_expected(img, 6, 16))


def test_png_malformed_combos_raise_valueerror():
    import struct

    import numpy as np
    import pytest

    from kausaldb_spark.sources.multimodal import decode_pixels

    img = np.zeros((2, 2, 3), "int64")
    # spec-invalid depth/ctype combos are malformed, not a boundary
    for ctype, depth in ((2, 4), (3, 16), (6, 4), (0, 3)):
        shaped = np.zeros((2, 2, _PNG_CH.get(ctype, 1)), "int64")
        data = _png_encode_full(shaped, ctype, 8, [0])
        # patch IHDR depth byte (offset 8+8 = start of IHDR data; depth at +8)
        data = data[:24] + bytes([depth]) + data[25:]
        with pytest.raises(ValueError):
            decode_pixels(data)
    # interlace method 2 is malformed
    data = _png_encode_full(img, 2, 8, [0])
    data = data[:28] + b"\x02" + data[29:]
    with pytest.raises(ValueError):
        decode_pixels(data)
    # palette PNG without PLTE
    data = _png_encode_full(np.zeros((2, 2, 1), "int64"), 3, 8, [0])
    with pytest.raises(ValueError):
        decode_pixels(data)
    # palette index past PLTE end
    data = _png_encode_full(
        np.full((2, 2, 1), 3, "int64"), 3, 8, [0], plte=[(1, 2, 3)] * 2)
    with pytest.raises(ValueError):
        decode_pixels(data)
    # tRNS on an alpha-bearing color type
    data = _png_encode_full(
        np.zeros((2, 2, 4), "int64"), 6, 8, [0],
        trns=struct.pack(">HHHH", 0, 0, 0, 0))
    with pytest.raises(ValueError):
        decode_pixels(data)
    # truncated interlaced stream: drop the last pass's bytes
    img = _rand_samples(8, 8, 2, 8, seed=6)
    full = _png_encode_full(img, 2, 8, [0], interlace=1)
    import zlib
    raw = zlib.decompress(full[full.index(b"IDAT") + 4:full.index(b"IEND") - 8])
    cut = zlib.compress(raw[: len(raw) - 10])
    data = (
        full[: full.index(b"IDAT") - 4]
        + _png_chunk2(b"IDAT", cut) + _png_chunk2(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_pixels(data)


def _bmp_rle8_encode_rows(idx):
    """Independent BI_RLE8 writer: encoded runs per bottom-up row, EOL
    after every row, EOB at the end. Runs longer than 255 chunk."""
    h, w = idx.shape
    out = bytearray()
    for y in range(h - 1, -1, -1):
        x = 0
        while x < w:
            v = int(idx[y, x])
            n = 1
            while x + n < w and int(idx[y, x + n]) == v and n < 255:
                n += 1
            out += bytes([n, v])
            x += n
        out += b"\x00\x00"  # EOL
    out += b"\x00\x01"  # EOB
    return bytes(out)


def _bmp_encode_pal8(idx, pal, compression=0):
    """Independent palette-BMP writer: BGRX color table, bottom-up rows,
    4-byte row padding (uncompressed) or a BI_RLE8 stream."""
    import struct

    h, w = idx.shape
    table = b"".join(bytes([b, g, r, 0]) for (r, g, b) in pal)
    if compression == 0:
        stride = (w + 3) & ~3
        px = b"".join(
            bytes(bytearray(int(v) for v in idx[y])) + b"\x00" * (stride - w)
            for y in range(h - 1, -1, -1)
        )
    else:
        px = _bmp_rle8_encode_rows(idx)
    data_off = 14 + 40 + len(table)
    return (
        b"BM" + struct.pack("<IHHI", data_off + len(px), 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, compression,
                      len(px), 2835, 2835, len(pal), 0)
        + table + px
    )


def test_bmp_palette_8bit_uncompressed_and_rle8():
    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    rng = np.random.RandomState(42)
    pal = [((i * 31) % 256, (i * 7) % 256, (i * 143) % 256) for i in range(40)]
    # runs of varying length so RLE exercises both long and single runs;
    # w=5 exercises the 4-byte pad on the uncompressed path
    idx = rng.randint(0, 40, size=(6, 5)).astype("uint8")
    idx[2, :] = 7  # full-row run
    want = np.array(pal, np.uint8)[idx]
    got = decode_pixels(_bmp_encode_pal8(idx, pal, compression=0))
    assert np.array_equal(got, want)
    got = decode_pixels(_bmp_encode_pal8(idx, pal, compression=1))
    assert np.array_equal(got, want)
    # wide run chunking (>255)
    idx = np.full((2, 300), 3, "uint8")
    want = np.array(pal, np.uint8)[idx]
    got = decode_pixels(_bmp_encode_pal8(idx, pal, compression=1))
    assert np.array_equal(got, want)


def test_bmp_rle8_absolute_and_delta_modes():
    """Hand-built RLE8 stream: absolute run (word-padded), delta skip
    (skipped cells stay palette[0]), early EOB."""
    import struct

    import numpy as np

    from kausaldb_spark.sources.multimodal import decode_pixels

    pal = [(i, 2 * i % 256, 3 * i % 256) for i in range(8)]
    w, h = 6, 3
    # bottom row (y=2 in image coords): absolute run of 3 (1,2,3), padded
    # then encoded run 3x5; middle row: delta right 2, then run 2x4;
    # top row: run 1x6 then EOB
    stream = (
        b"\x00\x03" + bytes([1, 2, 3]) + b"\x00"  # absolute, word pad
        + b"\x03\x05"
        + b"\x00\x00"                              # EOL
        + b"\x00\x02" + bytes([2, 0])              # delta: x += 2
        + b"\x02\x04"
        + b"\x00\x00"                              # EOL
        + b"\x06\x01"
        + b"\x00\x01"                              # EOB
    )
    table = b"".join(bytes([b, g, r, 0]) for (r, g, b) in pal)
    data_off = 14 + 40 + len(table)
    data = (
        b"BM" + struct.pack("<IHHI", data_off + len(stream), 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1,
                      len(stream), 0, 0, len(pal), 0)
        + table + stream
    )
    got = decode_pixels(data)
    palarr = np.array(pal, np.uint8)
    want_idx = np.array(
        [[1, 1, 1, 1, 1, 1],
         [0, 0, 4, 4, 0, 0],
         [1, 2, 3, 5, 5, 5]], "uint8")
    assert np.array_equal(got, palarr[want_idx])


def test_bmp_rle8_malformed_raises_valueerror():
    import numpy as np
    import pytest

    from kausaldb_spark.sources.multimodal import decode_pixels

    pal = [(0, 0, 0)] * 4
    idx = np.zeros((2, 4), "uint8")
    good = _bmp_encode_pal8(idx, pal, compression=1)
    # run crossing the row edge
    bad = bytearray(good)
    stream_at = len(good) - len(_bmp_rle8_encode_rows(idx))
    bad[stream_at] = 200  # first run length now exceeds w=4
    with pytest.raises(ValueError):
        decode_pixels(bytes(bad))
    # truncated color table
    with pytest.raises(ValueError):
        decode_pixels(good[: 14 + 40 + 8])


def test_probe_format_mode_full_png_bmp_closure():
    """The probe's decodable flag must agree with the widened decoder on
    real encoder output for every newly closed mode."""
    import struct

    import numpy as np

    from kausaldb_spark.sources.multimodal import probe_format_mode

    img16 = _rand_samples(4, 4, 2, 16, seed=1)
    assert probe_format_mode(_png_encode_full(img16, 2, 16, [0])) == (
        "png", "depth16-ctype2", True)
    pal = [(0, 0, 0), (255, 255, 255)]
    img1 = _rand_samples(4, 4, 3, 1, seed=2, n_pal=2)
    assert probe_format_mode(_png_encode_full(img1, 3, 1, [0], plte=pal)) == (
        "png", "depth1-ctype3", True)
    imgi = _rand_samples(9, 9, 2, 8, seed=3)
    assert probe_format_mode(
        _png_encode_full(imgi, 2, 8, [0], interlace=1)) == (
        "png", "depth8-ctype2-interlaced", True)
    # spec-invalid combo probes NOT decodable
    data = _png_encode_full(imgi, 2, 8, [0])
    data = data[:24] + b"\x04" + data[25:]  # depth 4 / ctype 2
    assert probe_format_mode(data) == ("png", "depth4-ctype2", False)
    idx = np.zeros((2, 2), "uint8")
    assert probe_format_mode(_bmp_encode_pal8(idx, [(1, 2, 3)])) == (
        "bmp", "comp0-8bpp", True)
    assert probe_format_mode(_bmp_encode_pal8(idx, [(1, 2, 3)], 1)) == (
        "bmp", "comp1-8bpp", True)


try:
    from hypothesis import given as _png_given, settings as _png_settings
    from hypothesis import strategies as _png_st

    _PNG_COMBOS = [
        (ctype, depth)
        for ctype, depths in ((0, (1, 2, 4, 8, 16)), (2, (8, 16)),
                              (3, (1, 2, 4, 8)), (4, (8, 16)), (6, (8, 16)))
        for depth in depths
    ]

    @_png_settings(max_examples=40, deadline=None)
    @_png_given(
        combo=_png_st.sampled_from(_PNG_COMBOS),
        h=_png_st.integers(1, 12),
        w=_png_st.integers(1, 12),
        interlace=_png_st.integers(0, 1),
        filters=_png_st.lists(_png_st.integers(0, 4), min_size=1, max_size=5),
        use_trns=_png_st.booleans(),
        seed=_png_st.integers(0, 9999),
    )
    def test_png_full_surface_roundtrip_hypothesis(
            combo, h, w, interlace, filters, use_trns, seed):
        import struct

        import numpy as np

        from kausaldb_spark.sources.multimodal import decode_pixels

        ctype, depth = combo
        n_pal = min(1 << depth, 13)
        img = _rand_samples(h, w, ctype, depth, seed=seed, n_pal=n_pal)
        plte = (
            [((i * 11) % 256, (i * 59) % 256, (i * 233) % 256)
             for i in range(n_pal)]
            if ctype == 3 else None
        )
        trns = None
        if use_trns:
            if ctype == 3:
                trns = bytes((i * 43) % 256 for i in range(n_pal - 1))
            elif ctype in (0, 2):
                ch = _PNG_CH[ctype]
                key = tuple(int(img[0, 0, c]) for c in range(ch))
                trns = struct.pack(f">{ch}H", *key)
        data = _png_encode_full(
            img, ctype, depth, filters, interlace=interlace,
            plte=plte, trns=trns)
        got = decode_pixels(data)
        want = _png_expected(img, ctype, depth, plte=plte, trns=trns)
        assert got.shape == want.shape and np.array_equal(got, want)
except ImportError:  # pragma: no cover
    pass
