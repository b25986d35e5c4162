"""Audio asset columns: real container parsing for the audio modality —
RIFF/WAVE PCM decode (8/16/24-bit integer and 32-bit IEEE float), plus
header-level probes for the compressed codecs (FLAC STREAMINFO bit-unpack,
MPEG-1 Layer III frame header, Ogg/Vorbis identification header).

Mirrors the image stack's layering exactly (`multimodal.py`):

- ``probe_audio_format`` — header-only (format, mode, sample_rate,
  channels, decodable) for EVERY container, no sample decode: the number a
  100 TB curation run uses to size the decode-stage loss per corpus.
- ``decode_audio_samples`` — REAL sample decode for the formats that need
  no codec library (PCM/float WAV, straight off the RIFF/WAVE spec:
  chunk walk with word alignment, fmt/fact/LIST handling, WAVE_FORMAT_
  EXTENSIBLE unwrap). Compressed codecs (ADPCM/MP3/FLAC/Vorbis) stay
  behind an explicit NotImplementedError — the documented boundary, per-
  row isolated and coverage-measured like the image codecs.
- ``audio_stats`` — the Arrow mapInPandas stage: per-asset header fields
  plus exact-integer sample statistics (peak / sum-of-squares on a
  normalized 16-bit scale, so both oracle engines hash identical BIGINTs
  and a 24-bit corpus cannot overflow the per-class rollup).
- ``AUDIO_CLASSES`` / ``synth_audio`` / ``synthetic_audio_assets`` — the
  deterministic fixture corpus keyed off doc_id, same discipline as
  FORMAT_CLASSES: the DuckDB twin predicts every stat from the id's
  closed forms while the Spark side parses REAL container bytes (a chunk-
  walk or bit-unpack bug breaks the oracle hash).

Scale: decode is embarrassingly parallel map-only work on Arrow batches;
payload bytes never shuffle (stats tuples only). Sample statistics use
integer arithmetic exclusively — float RMS would diverge across engines.

Reference parity note: the reference engine (kausaldb) has no audio
support; this module serves the training-data pipeline's multimodal
surface (prompt: image/audio/video as opaque binary + typed metadata).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# MPEG-1 Layer III bitrate (kbps, index 1..14) and sample-rate tables —
# spec constants (ISO/IEC 11172-3)
_MP3_BITRATE_V1L3 = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]
_MP3_SAMPLERATE_V1 = [44100, 48000, 32000]


# --- header probes ---------------------------------------------------------

def probe_audio_format(data: bytes):
    """(format, mode, sample_rate, channels, decodable) from container
    HEADERS only. ``decodable`` predicts whether ``decode_audio_samples``
    is inside its implemented boundary (PCM/float WAV); the header fields
    are REAL for the boundary formats too — FLAC's STREAMINFO is
    bit-unpacked (20-bit rate / 3-bit channels / 5-bit depth), MP3's
    frame header indexes the spec bitrate/rate tables, Vorbis' id header
    is parsed from the first Ogg page. Unknown/truncated → ("unknown",
    None, None, None, False)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        try:
            fmt = _wav_walk(data, want_samples=False)
        except ValueError:
            return ("wav", "malformed", None, None, False)
        tag, ch, sr, bits = fmt["tag"], fmt["channels"], fmt["rate"], fmt["bits"]
        if tag == 1 and bits in (8, 16, 24, 32):
            return ("wav", f"pcm{bits}", sr, ch, True)
        if tag == 3 and bits == 32:
            return ("wav", "float32", sr, ch, True)
        if tag == 0x11:
            return ("wav", "ima-adpcm", sr, ch, False)
        return ("wav", f"tag{tag}-{bits}bit", sr, ch, False)
    if data[:4] == b"fLaC" and len(data) >= 26:
        # METADATA_BLOCK_STREAMINFO: byte 4 = last|type, bytes 8.. payload;
        # rate/channels/bits live in payload bytes 10-13 (bit-packed:
        # 20-bit rate, 3-bit channels-1, 5-bit bits-1)
        if data[4] & 0x7F != 0:
            return ("flac", "no-streaminfo-first", None, None, False)
        b = data[8 + 10:8 + 14]
        rate = (b[0] << 12) | (b[1] << 4) | (b[2] >> 4)
        ch = ((b[2] >> 1) & 0x7) + 1
        bits = (((b[2] & 0x1) << 4) | (b[3] >> 4)) + 1
        return ("flac", f"{bits}bit", rate, ch, False)
    if len(data) >= 4 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0:
        version = (data[1] >> 3) & 0x3   # 3 = MPEG-1
        layer = (data[1] >> 1) & 0x3     # 1 = Layer III
        if version == 3 and layer == 1:
            bri = data[2] >> 4
            sri = (data[2] >> 2) & 0x3
            if 1 <= bri <= 14 and sri < 3:
                mode = data[3] >> 6      # 3 = mono
                return (
                    "mp3", f"{_MP3_BITRATE_V1L3[bri]}kbps",
                    _MP3_SAMPLERATE_V1[sri], 1 if mode == 3 else 2, False,
                )
        return ("mp3", "bad-header", None, None, False)
    if data[:4] == b"OggS" and len(data) >= 28:
        nseg = data[26]
        body = 27 + nseg
        if data[body:body + 7] == b"\x01vorbis" and len(data) >= body + 16:
            ch = data[body + 11]
            rate = struct.unpack("<I", data[body + 12:body + 16])[0]
            return ("ogg", "vorbis", rate, ch, False)
        return ("ogg", "unknown-codec", None, None, False)
    return ("unknown", None, None, None, False)


def _wav_walk(data: bytes, want_samples: bool = True) -> dict:
    """RIFF chunk walk: fmt (with WAVE_FORMAT_EXTENSIBLE unwrap) and data,
    word-aligned (odd-sized chunks carry a pad byte), LIST/fact/other
    chunks skipped. Raises ValueError on structural damage."""
    if len(data) < 12:
        raise ValueError("WAV too short for RIFF header")
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real tag in GUID
                if size < 40:
                    raise ValueError("WAV extensible fmt too short")
                tag = struct.unpack("<H", body[24:26])[0]
            if ch == 0 or rate == 0:
                raise ValueError("WAV zero channels or rate")
            fmt = {"tag": tag, "channels": ch, "rate": rate, "bits": bits}
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("WAV data chunk truncated")
            if want_samples:
                samples = body
            else:
                samples = b""
        pos += 8 + size + (size & 1)  # word alignment pad
    if fmt is None:
        raise ValueError("WAV without fmt chunk")
    if samples is None:
        raise ValueError("WAV without data chunk")
    fmt["data"] = samples
    return fmt


def decode_audio_samples(data: bytes):
    """REAL sample decode for PCM/float WAV: returns an int32 ndarray of
    shape (n_frames, channels) on the NORMALIZED 16-BIT SCALE (8-bit
    shifts up, 24/32-bit shift down, float rounds at 32768) — one scale
    for every depth so downstream statistics are exact integers and
    cannot overflow a BIGINT rollup.

    Error contract: ValueError for structural damage (short data, bad
    chunk walk), NotImplementedError outside the boundary (compressed
    codecs, unknown containers) — per-row isolation in the Arrow stage,
    same contract as decode_pixels."""
    import numpy as np

    fmt, mode, _sr, _ch, ok = probe_audio_format(data)
    if fmt == "unknown":
        raise NotImplementedError(
            "unrecognized audio container — WAV is decoded here"
        )
    if not ok:
        if mode in ("malformed",):
            raise ValueError("malformed WAV structure")
        raise NotImplementedError(f"audio codec outside boundary: {fmt}/{mode}")
    w = _wav_walk(data)
    ch, bits, tag = w["channels"], w["bits"], w["tag"]
    raw = w["data"]
    if tag == 3:  # IEEE float32, normalized [-1, 1]
        n = len(raw) // 4
        vals = np.frombuffer(raw[:n * 4], "<f4").astype(np.float64)
        out = np.rint(vals * 32768.0).astype(np.int64)
        out = np.clip(out, -32768, 32767).astype(np.int32)
    elif bits == 8:  # unsigned, 128-centered
        out = (np.frombuffer(raw, np.uint8).astype(np.int32) - 128) << 8
    elif bits == 16:
        n = len(raw) // 2
        out = np.frombuffer(raw[:n * 2], "<i2").astype(np.int32)
    elif bits == 24:
        n = len(raw) // 3
        b = np.frombuffer(raw[:n * 3], np.uint8).reshape(n, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v & 0x800000, v - (1 << 24), v)
        out = v >> 8
    elif bits == 32:
        n = len(raw) // 4
        out = np.frombuffer(raw[:n * 4], "<i4").astype(np.int64) >> 16
        out = out.astype(np.int32)
    else:  # unreachable: probe gated decodability on the depth
        raise NotImplementedError(f"WAV {bits}-bit PCM")
    frames = len(out) // ch
    return out[:frames * ch].reshape(frames, ch)


AUDIO_STATS_SCHEMA = (
    "asset_id string, format string, mode string, sample_rate bigint, "
    "channels bigint, n_frames bigint, duration_ms bigint, "
    "peak16 bigint, sum_sq16 bigint, err string"
)


def audio_stats(assets: DataFrame, id_col: str = "asset_id",
                payload_col: str = "payload") -> DataFrame:
    """Per-asset audio statistics (Arrow mapInPandas): header fields are
    real for every container (probe), sample stats (peak / sum of squares
    on the 16-bit scale, exact integers) only inside the decode boundary;
    boundary and corrupt rows land with an ``err`` marker instead of
    failing the task — the decode_pixels per-row-isolation contract."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                fmt, mode, sr, ch, ok = probe_audio_format(data)
                n_frames = dur = peak = ssq = None
                err = None
                if ok:
                    try:
                        s = decode_audio_samples(data)
                        n_frames = int(s.shape[0])
                        dur = n_frames * 1000 // int(sr)
                        peak = int(abs(s).max()) if s.size else 0
                        ssq = int((s.astype("int64") ** 2).sum())
                    except (ValueError, NotImplementedError) as exc:
                        err = f"{type(exc).__name__}: {exc}"
                elif fmt == "unknown" or mode in ("malformed",):
                    err = "undecodable container"
                rows.append((str(aid), fmt, mode, sr, ch, n_frames, dur,
                             peak, ssq, err))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "format", "mode", "sample_rate",
                         "channels", "n_frames", "duration_ms", "peak16",
                         "sum_sq16", "err"],
            )

    return (
        assets.select(F.col(id_col).alias(id_col), payload_col)
        .mapInPandas(batch_fn, AUDIO_STATS_SCHEMA)
    )


# --- deterministic audio-corpus synthesis (the audio_stats fixture) ---------
# Ten structurally REAL minimal containers, one per class k = id % 10,
# spanning the decode boundary from both sides. Sample payloads use
# closed-form waveforms (square wave / constant) so the DuckDB twin can
# predict peak and sum-of-squares from the id ALONE while the Spark side
# must chunk-walk and sample-decode real bytes.
#
# Closed forms shared with the oracle twin (keep _audio_cls_sql in
# __spark_entry__.py in lockstep):
#   A(d)  = 100 + (d * 31) % 29000          square-wave amplitude
#   N(d)  = 16 + (d % 7) * 8                frames
#   SR(d) = 8000 + (d % 4) * 4000           WAV sample rate
#   C(d)  = d % 100                         pcm8 constant (post-centering)

AUDIO_CLASSES = [
    # (format, mode, decodable) — MUST match probe_audio_format's taxonomy
    ("wav", "pcm16", True),        # k=0: mono square wave
    ("wav", "pcm16", True),        # k=1: stereo, ch1 at half amplitude
    ("wav", "pcm8", True),         # k=2: constant C(d)
    ("wav", "float32", True),      # k=3: mono square wave, A/32768
    ("wav", "pcm24", True),        # k=4: mono square wave at A<<8
    ("wav", "ima-adpcm", False),   # k=5: fmt tag 0x11
    ("flac", "16bit", False),      # k=6: real STREAMINFO bit-pack
    ("mp3", "128kbps", False),     # k=7: MPEG-1 L3 frame header
    ("ogg", "vorbis", False),      # k=8: Ogg BOS page + vorbis id header
    ("unknown", None, False),      # k=9
]


def _amp(d: int) -> int:
    return 100 + (d * 31) % 29000


def _nframes(d: int) -> int:
    return 16 + (d % 7) * 8


def _rate(d: int) -> int:
    return 8000 + (d % 4) * 4000


def _wav_bytes(tag: int, ch: int, rate: int, bits: int, raw: bytes) -> bytes:
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    if len(raw) & 1:
        chunks += b"\x00"  # word-alignment pad
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synth_audio(cls: int, d: int) -> bytes:
    """A minimal structurally-valid audio container of class ``cls``
    (see AUDIO_CLASSES) parameterized by doc id ``d``."""
    import hashlib

    k = cls % len(AUDIO_CLASSES)
    a, n, sr = _amp(d), _nframes(d), _rate(d)
    tail = hashlib.md5(f"a{k}:{d}".encode()).digest()
    if k == 0:  # pcm16 mono square wave
        raw = b"".join(
            struct.pack("<h", a if i % 2 == 0 else -a) for i in range(n)
        )
        return _wav_bytes(1, 1, sr, 16, raw)
    if k == 1:  # pcm16 stereo: ch0 ±A, ch1 ±(A//2)
        raw = b"".join(
            struct.pack("<hh", s * a, s * (a // 2))
            for i in range(n) for s in ((1,) if i % 2 == 0 else (-1,))
        )
        return _wav_bytes(1, 2, sr, 16, raw)
    if k == 2:  # pcm8 mono constant 128 + C(d)
        raw = bytes([128 + d % 100] * n)
        return _wav_bytes(1, 1, sr, 8, raw)
    if k == 3:  # float32 mono square wave at A/32768 (exactly representable)
        raw = b"".join(
            struct.pack("<f", (a if i % 2 == 0 else -a) / 32768.0)
            for i in range(n)
        )
        return _wav_bytes(3, 1, sr, 32, raw)
    if k == 4:  # pcm24 mono square wave at A<<8 (normalizes back to ±A)
        raw = b"".join(
            int((a if i % 2 == 0 else -a) << 8 & 0xFFFFFF).to_bytes(3, "little")
            for i in range(n)
        )
        return _wav_bytes(1, 1, sr, 24, raw)
    if k == 5:  # IMA ADPCM: header-honest, junk payload (never decoded)
        return _wav_bytes(0x11, 1, sr, 4, tail)
    if k == 6:  # FLAC STREAMINFO: rate/channels=2/bits=16 bit-packed
        b0 = (sr >> 12) & 0xFF
        b1 = (sr >> 4) & 0xFF
        b2 = ((sr & 0xF) << 4) | ((2 - 1) << 1) | (((16 - 1) >> 4) & 1)
        b3 = (((16 - 1) & 0xF) << 4)
        info = bytes(10) + bytes([b0, b1, b2, b3]) + bytes(4) + bytes(16)
        return b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + info + tail
    if k == 7:  # MPEG-1 Layer III, 128 kbps (index 9), 44.1 kHz, mono
        hdr = bytes([0xFF, 0xFB, (9 << 4) | (0 << 2), 0xC0])
        return hdr + tail
    if k == 8:  # Ogg BOS page wrapping a vorbis identification header
        body = b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
        body += struct.pack("<I", sr) + bytes(9)
        page = b"OggS" + bytes([0, 2]) + bytes(8) + struct.pack("<I", d & 0xFFFF)
        page += bytes(8) + bytes([1, len(body)]) + body
        return page + tail
    return b"\x00NOTAUDIO" + tail  # k=9: unknown container


def synthetic_audio_assets(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(asset_id, payload) with payload = synth_audio(id % 10, id) — the
    deterministic audio-corpus stand-in keyed off the documents table
    (oracle recomputes every stat from the id; Spark parses real bytes)."""
    n_cls = len(AUDIO_CLASSES)

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "asset_id": ids.astype("string"),
                    "payload": [
                        synth_audio(int(i) % n_cls, int(i)) for i in ids
                    ],
                }
            )

    return docs.select(id_col).mapInPandas(
        batch_fn, "asset_id string, payload binary"
    )
