"""Video asset columns: real container-header parsing for the video
modality — ISO-BMFF/MP4 box walk (ftyp brand, mvhd timescale/duration in
both version-0 and version-1 forms, per-trak tkhd dimensions and hdlr
handler types), AVI (RIFF with nested LISTs down to avih), and
Matroska/WebM (EBML vint-length header walk to the DocType).

Completes the image/audio/video triple at the layer a 100 TB curation run
actually needs first: classify, size and duration-gate the corpus WITHOUT
invoking a single codec. Frame decode for real video codecs (H.264 etc.)
needs codec libraries and is out of scope: this module exposes no frame
decoder. The container STRUCTURE parsing here is fully real and pinned
against independent test-side builders.

Layering mirrors the audio/image stacks:
- ``probe_video_format`` — (format, mode, width, height, duration_ms,
  n_video_tracks, n_audio_tracks) from headers only.
- ``video_probe_stats`` — the Arrow mapInPandas stage, per-row isolated.
- ``VIDEO_CLASSES`` / ``synth_video`` / ``synthetic_video_assets`` — the
  deterministic fixture corpus keyed off doc_id: the DuckDB twin predicts
  every field from the id's closed forms while the Spark side walks REAL
  box/chunk/EBML structures (a size-arithmetic bug breaks the hash).

Closed forms shared with the oracle twin (_video_probe_sql):
  W(d)  = 16 * (4 + d % 60)            width
  H(d)  = 16 * (3 + d % 40)            height
  DUR(d)= 500 + (d * 37) % 60000       duration in ms
  NA(d) = d % 3                        audio track count (mp4)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --- ISO-BMFF / MP4 ---------------------------------------------------------

def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the top-level boxes in
    [start, end); handles 64-bit largesize boxes. Raises ValueError on
    size arithmetic that escapes the parent."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        btype = data[pos + 4:pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("MP4 largesize box truncated")
            (size,) = struct.unpack(">Q", data[pos + 8:pos + 16])
            hdr = 16
        elif size == 0:  # box extends to the end of the enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("MP4 box size escapes parent")
        yield btype, pos + hdr, pos + size
        pos += size


def _mp4_probe(data: bytes):
    brand = None
    width = height = None
    duration_ms = None
    n_video = n_audio = 0
    saw_moov = False
    for btype, b0, b1 in _mp4_boxes(data, 0, len(data)):
        if btype == b"ftyp" and b1 - b0 >= 4:
            brand = data[b0:b0 + 4].decode("latin1").strip()
        elif btype == b"moov":
            saw_moov = True
            for ityp, i0, i1 in _mp4_boxes(data, b0, b1):
                if ityp == b"mvhd":
                    ver = data[i0]
                    if ver == 1:  # 64-bit times: u64 create/modify, u32 ts
                        ts, = struct.unpack(">I", data[i0 + 20:i0 + 24])
                        dur, = struct.unpack(">Q", data[i0 + 24:i0 + 32])
                    else:
                        ts, = struct.unpack(">I", data[i0 + 12:i0 + 16])
                        dur, = struct.unpack(">I", data[i0 + 16:i0 + 20])
                    if ts:
                        duration_ms = dur * 1000 // ts
                elif ityp == b"trak":
                    t_w = t_h = None
                    handler = None
                    for ttyp, t0, t1 in _mp4_boxes(data, i0, i1):
                        if ttyp == b"tkhd":
                            # width/height (16.16 fixed) after ver+flags(4)
                            # + times/ids (20 v0 / 32 v1) + reserved(8)
                            # + layer/group/volume(8) + matrix(36)
                            ver = data[t0]
                            off = t0 + (88 if ver == 1 else 76)
                            if off + 8 <= t1:
                                w16, h16 = struct.unpack(
                                    ">II", data[off:off + 8]
                                )
                                t_w, t_h = w16 >> 16, h16 >> 16
                        elif ttyp == b"mdia":
                            for mtyp, m0, m1 in _mp4_boxes(data, t0, t1):
                                if mtyp == b"hdlr" and m1 - m0 >= 12:
                                    handler = data[m0 + 8:m0 + 12]
                    if handler == b"vide":
                        n_video += 1
                        if t_w:
                            width, height = t_w, t_h
                    elif handler == b"soun":
                        n_audio += 1
    if not saw_moov:
        return ("mp4", "no-moov", None, None, None, 0, 0)
    mode = f"brand-{brand}" if brand else "no-ftyp"
    return ("mp4", mode, width, height, duration_ms, n_video, n_audio)


# --- AVI (RIFF with nested LISTs) -------------------------------------------

def _avi_probe(data: bytes):
    def walk(pos: int, end: int):
        """Yield (fourcc, list_type_or_None, body_start, body_end)."""
        while pos + 8 <= end:
            cid = data[pos:pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
            if pos + 8 + size > end + (size & 1):
                raise ValueError("AVI chunk escapes parent")
            if cid == b"LIST" and size >= 4:
                yield cid, data[pos + 8:pos + 12], pos + 12, pos + 8 + size
            else:
                yield cid, None, pos + 8, pos + 8 + size
            pos += 8 + size + (size & 1)

    for cid, ltype, b0, b1 in walk(12, len(data)):
        if cid == b"LIST" and ltype == b"hdrl":
            for c2, _l2, c0, c1 in walk(b0, b1):
                if c2 == b"avih" and c1 - c0 >= 40:
                    (uspf, _mbps, _pad, _flags, frames) = struct.unpack(
                        "<IIIII", data[c0:c0 + 20]
                    )
                    w, h = struct.unpack("<II", data[c0 + 32:c0 + 40])
                    dur = frames * uspf // 1000 if uspf else None
                    return ("avi", "riff-avi", w, h, dur, 1, 0)
    return ("avi", "no-avih", None, None, None, 0, 0)


# --- Matroska / WebM (EBML) --------------------------------------------------

def _ebml_vint(data: bytes, pos: int, strip_marker: bool = True):
    """EBML variable-length integer at pos: returns (value, next_pos)."""
    if pos >= len(data):
        raise ValueError("EBML vint past end")
    first = data[pos]
    if first == 0:
        raise ValueError("EBML vint with zero marker")
    length = 8 - first.bit_length() + 1
    if pos + length > len(data):
        raise ValueError("EBML vint truncated")
    v = first & ((1 << (8 - length)) - 1) if strip_marker else first
    for i in range(1, length):
        v = (v << 8) | data[pos + i]
    return v, pos + length


def _mkv_probe(data: bytes):
    # EBML header element 0x1A45DFA3, then child elements; DocType = 0x4282
    _id, pos = _ebml_vint(data, 0, strip_marker=False)
    size, pos = _ebml_vint(data, pos)
    end = min(pos + size, len(data))
    doctype = None
    while pos < end:
        eid, pos = _ebml_vint(data, pos, strip_marker=False)
        esz, pos = _ebml_vint(data, pos)
        if eid == 0x4282:
            doctype = data[pos:pos + esz].decode("latin1", "replace")
        pos += esz
    if doctype in ("webm", "matroska"):
        return (doctype, "ebml", None, None, None, None, None)
    return ("mkv", f"doctype-{doctype}", None, None, None, None, None)


def probe_video_format(data: bytes):
    """(format, mode, width, height, duration_ms, n_video_tracks,
    n_audio_tracks) from container headers only — ISO-BMFF box walk, AVI
    RIFF walk, EBML DocType. Unknown/damaged → ("unknown"/"malformed",
    ...). Never raises: this is the classification stage and a damaged
    container is a CLASS, not an error (decode stages raise; probes
    classify)."""
    try:
        if len(data) >= 12 and data[4:8] == b"ftyp":
            return _mp4_probe(data)
        if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
            return _avi_probe(data)
        if data[:4] == b"\x1aE\xdf\xa3":
            return _mkv_probe(data)
    except (ValueError, struct.error, IndexError):
        fmt = (
            "mp4" if data[4:8] == b"ftyp"
            else "avi" if data[:4] == b"RIFF"
            else "mkv"
        )
        return (fmt, "malformed", None, None, None, None, None)
    return ("unknown", None, None, None, None, None, None)


VIDEO_PROBE_SCHEMA = (
    "asset_id string, format string, mode string, width bigint, "
    "height bigint, duration_ms bigint, n_video_tracks bigint, "
    "n_audio_tracks bigint"
)


def video_probe_stats(assets: DataFrame, id_col: str = "asset_id",
                      payload_col: str = "payload") -> DataFrame:
    """Per-asset container classification (Arrow mapInPandas): the
    duration/dimension/track-count pre-filter of a video pipeline, no
    codec invoked, payload bytes never shuffle."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                rows.append((str(aid),) + probe_video_format(data))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "format", "mode", "width", "height",
                         "duration_ms", "n_video_tracks", "n_audio_tracks"],
            )

    return (
        assets.select(F.col(id_col).alias(id_col), payload_col)
        .mapInPandas(batch_fn, VIDEO_PROBE_SCHEMA)
    )


# --- deterministic video-corpus synthesis ------------------------------------

VIDEO_CLASSES = [
    # (format, mode) — MUST match probe_video_format's taxonomy
    ("mp4", "brand-isom"),   # k=0: mvhd v0, one video + NA(d) audio traks
    ("mp4", "brand-mp42"),   # k=1: mvhd v1 (64-bit duration path)
    ("avi", "riff-avi"),     # k=2
    ("webm", "ebml"),        # k=3
    ("matroska", "ebml"),    # k=4
    ("mp4", "no-moov"),      # k=5: structurally valid, moov missing
    ("unknown", None),       # k=6
]


def _vw(d: int) -> int:
    return 16 * (4 + d % 60)


def _vh(d: int) -> int:
    return 16 * (3 + d % 40)


def _vdur(d: int) -> int:
    return 500 + (d * 37) % 60000


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _mp4_trak(handler: bytes, w: int, h: int) -> bytes:
    tkhd = bytes([0]) + bytes(3) + bytes(72) + struct.pack(">II", w << 16, h << 16)
    hdlr = bytes(4) + bytes(4) + handler + bytes(12)
    mdia = _box(b"mdia", _box(b"hdlr", hdlr))
    return _box(b"trak", _box(b"tkhd", tkhd) + mdia)


def synth_video(cls: int, d: int) -> bytes:
    """A minimal structurally-valid video container of class ``cls``
    (see VIDEO_CLASSES) parameterized by doc id ``d``."""
    import hashlib

    k = cls % len(VIDEO_CLASSES)
    w, h, dur = _vw(d), _vh(d), _vdur(d)
    tail = hashlib.md5(f"v{k}:{d}".encode()).digest()
    if k in (0, 1, 5):
        brand = b"isom" if k == 0 else b"mp42"
        ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand)
        if k == 5:
            return ftyp + _box(b"free", tail)
        # timescale 1000 so mvhd duration IS milliseconds
        if k == 1:  # version-1 mvhd: u64 times
            mvhd = bytes([1]) + bytes(3) + bytes(16) + struct.pack(
                ">IQ", 1000, dur
            ) + bytes(80)
        else:
            mvhd = bytes([0]) + bytes(3) + bytes(8) + struct.pack(
                ">II", 1000, dur
            ) + bytes(80)
        traks = _mp4_trak(b"vide", w, h)
        for _ in range(d % 3):
            traks += _mp4_trak(b"soun", 0, 0)
        return ftyp + _box(b"moov", _box(b"mvhd", mvhd) + traks) + _box(
            b"free", tail
        )
    if k == 2:  # AVI: RIFF -> LIST hdrl -> avih (1000 us/frame => dur==frames)
        avih = struct.pack("<IIIII", 1000, 0, 0, 0, dur) + bytes(12) + struct.pack("<II", w, h) + bytes(16)
        hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih)) + b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
        movi = b"LIST" + struct.pack("<I", 4 + len(tail)) + b"movi" + tail[:len(tail) & ~1]
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body
    if k in (3, 4):  # EBML header with DocType
        doctype = b"webm" if k == 3 else b"matroska"
        child = b"\x42\x82" + bytes([0x80 | len(doctype)]) + doctype
        return b"\x1aE\xdf\xa3" + bytes([0x80 | len(child)]) + child + tail
    return b"\x00NOTVIDEO" + tail  # k=6


def synthetic_video_assets(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(asset_id, payload) with payload = synth_video(id % 7, id)."""
    n_cls = len(VIDEO_CLASSES)

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "asset_id": ids.astype("string"),
                    "payload": [
                        synth_video(int(i) % n_cls, int(i)) for i in ids
                    ],
                }
            )

    return docs.select(id_col).mapInPandas(
        batch_fn, "asset_id string, payload binary"
    )
