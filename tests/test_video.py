"""Video container-probe pins (r12): the library's ISO-BMFF / AVI / EBML
walkers are pinned against INDEPENDENT test-side builders that assemble
the structures a different way (explicit offset layout vs the library
synthesizer's nested _box composition), plus damage classes (box sizes
escaping parents, truncated vints, 64-bit largesize boxes) and the Spark
stage's per-row isolation."""

import struct

from kausaldb_spark.sources import video as vi


def _full_mp4(w, h, dur_ms, n_audio=1, largesize_free=False):
    """Independent MP4 builder: bytes assembled with explicit offsets,
    v1 mvhd, one video trak (v1 tkhd! — exercises the other offset path
    than the library synthesizer, which emits v0) and n_audio sound
    traks."""

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16) + struct.pack(">IQ", 1000, dur_ms)
        + bytes(80),
    )
    # v1 tkhd: ver/flags(4) + c/m times (16) + id(4) + res(4) + dur(8)
    # + res(8) + layer/group/vol/res(8) + matrix(36) = 88, then w/h
    tkhd_v = box(
        b"tkhd",
        bytes([1, 0, 0, 0]) + bytes(84)
        + struct.pack(">II", w << 16, h << 16),
    )
    hdlr_v = box(b"hdlr", bytes(8) + b"vide" + bytes(12))
    trak_v = box(b"trak", tkhd_v + box(b"mdia", hdlr_v))
    trak_a = box(
        b"trak",
        box(b"tkhd", bytes([0, 0, 0, 0]) + bytes(72) + bytes(8))
        + box(b"mdia", box(b"hdlr", bytes(8) + b"soun" + bytes(12))),
    )
    out = ftyp + box(b"moov", mvhd + trak_v + trak_a * n_audio)
    if largesize_free:
        body = b"x" * 10
        out += struct.pack(">I", 1) + b"free" + struct.pack(
            ">Q", 16 + len(body)
        ) + body
    return out


def test_mp4_v1_and_largesize_and_track_counts():
    data = _full_mp4(640, 480, 12345, n_audio=2, largesize_free=True)
    got = vi.probe_video_format(data)
    assert got == ("mp4", "brand-isom", 640, 480, 12345, 1, 2), got


def test_mp4_timescale_division():
    # timescale 90000 (the common MPEG clock): duration converts to ms
    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    mvhd = box(
        b"mvhd",
        bytes([0, 0, 0, 0]) + bytes(8) + struct.pack(">II", 90000, 450000)
        + bytes(80),
    )
    data = box(b"ftyp", b"mp41\x00\x00\x00\x00") + box(b"moov", mvhd)
    got = vi.probe_video_format(data)
    assert got[1] == "brand-mp41" and got[4] == 5000, got  # 450000/90000 s


def test_mp4_damage_is_classified_not_raised():
    data = bytearray(_full_mp4(64, 48, 1000))
    # corrupt the moov size so a child escapes its parent
    moov_at = bytes(data).index(b"moov") - 4
    struct.pack_into(">I", data, moov_at, 17)  # nonsense size
    got = vi.probe_video_format(bytes(data))
    assert got[0] == "mp4" and got[1] in ("malformed", "no-moov"), got
    # truncated mid-box
    assert vi.probe_video_format(bytes(data[:20]))[0] == "mp4"


def test_avi_independent_builder():
    w, h, frames, uspf = 320, 240, 250, 40_000  # 25 fps, 10 s
    avih = struct.pack("<IIIII", uspf, 0, 0, 0x10, frames) + bytes(12)
    avih += struct.pack("<II", w, h) + bytes(16)
    hdrl_items = b"avih" + struct.pack("<I", len(avih)) + avih
    hdrl = b"LIST" + struct.pack("<I", 4 + len(hdrl_items)) + b"hdrl" + hdrl_items
    body = b"AVI " + hdrl
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    got = vi.probe_video_format(data)
    assert got == ("avi", "riff-avi", w, h, frames * uspf // 1000, 1, 0), got


def test_ebml_vint_widths():
    # DocType length expressed with a 2-byte vint (0x40 0x04) — a width
    # the library synthesizer never emits
    doctype = b"webm"
    child = b"\x42\x82" + b"\x40" + bytes([len(doctype)]) + doctype
    data = b"\x1aE\xdf\xa3" + bytes([0x80 | len(child)]) + child
    assert vi.probe_video_format(data)[0] == "webm"
    # truncated vint → malformed, never an exception
    assert vi.probe_video_format(b"\x1aE\xdf\xa3\x01")[1] == "malformed"


def test_video_classes_match_probe():
    for k, (fmt, mode) in enumerate(vi.VIDEO_CLASSES):
        for d in (k, k + 7, k + 7007):
            got = vi.probe_video_format(vi.synth_video(k, d))
            assert (got[0], got[1]) == (fmt, mode), (k, d, got)


def test_video_probe_stage_row_isolation(spark):
    rows = [(str(d), vi.synth_video(d % 7, d)) for d in range(21)]
    rows.append(("damaged", b"\x00\x00\x00\x20ftypisom\x00\x00\x00\xffmoov"))
    assets = spark.createDataFrame(rows, "asset_id string, payload binary")
    got = {r["asset_id"]: r for r in vi.video_probe_stats(assets).collect()}
    assert len(got) == 22
    assert got["damaged"]["format"] == "mp4"
    assert got["damaged"]["mode"] in ("malformed", "no-moov")
    for d in range(21):
        r = got[str(d)]
        fmt, mode = vi.VIDEO_CLASSES[d % 7]
        assert (r["format"], r["mode"]) == (fmt, mode), (d, r)
        if d % 7 in (0, 1, 2):
            assert r["width"] == vi._vw(d) and r["duration_ms"] == vi._vdur(d)
