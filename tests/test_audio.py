"""Audio modality pins (r12): the library's RIFF chunk-walk / PCM decode
is pinned against INDEPENDENT encoders — the stdlib ``wave`` module for
integer PCM (an implementation this repo did not write), a from-scratch
struct-level float32/extensible WAV builder, and spec-level FLAC/MP3/Ogg
header builders — plus chunk-walk traps (odd-size padding, LIST chunks,
WAVE_FORMAT_EXTENSIBLE, truncation) and the per-row isolation contract of
the Arrow stats stage."""

import io
import struct
import wave

import numpy as np
import pytest

from kausaldb_spark.sources import audio as au


def _wave_module_wav(samples: np.ndarray, ch: int, rate: int,
                     sampwidth: int) -> bytes:
    """Independent PCM encoder: python stdlib wave. ``samples`` is int
    frames x channels at the native depth (uint8-centered for width 1)."""
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(ch)
    w.setsampwidth(sampwidth)
    w.setframerate(rate)
    if sampwidth == 1:
        raw = samples.astype(np.uint8).tobytes()
    elif sampwidth == 2:
        raw = samples.astype("<i2").tobytes()
    elif sampwidth == 3:
        raw = b"".join(
            int(v & 0xFFFFFF).to_bytes(3, "little") for v in samples.flat
        )
    else:
        raw = samples.astype("<i4").tobytes()
    w.writeframes(raw)
    w.close()
    return buf.getvalue()


def test_pcm16_decode_matches_stdlib_wave():
    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, size=(50, 2), dtype=np.int64)
    data = _wave_module_wav(s, 2, 16000, 2)
    assert au.probe_audio_format(data) == ("wav", "pcm16", 16000, 2, True)
    got = au.decode_audio_samples(data)
    assert got.shape == (50, 2)
    assert np.array_equal(got, s)  # 16-bit IS the normalized scale


def test_pcm8_and_pcm24_and_pcm32_normalization():
    rng = np.random.default_rng(5)
    u8 = rng.integers(0, 256, size=(31, 1), dtype=np.int64)
    got8 = au.decode_audio_samples(_wave_module_wav(u8, 1, 8000, 1))
    assert np.array_equal(got8, (u8 - 128) << 8)
    s24 = rng.integers(-(1 << 23), 1 << 23, size=(17, 1), dtype=np.int64)
    got24 = au.decode_audio_samples(_wave_module_wav(s24, 1, 44100, 3))
    assert np.array_equal(got24, s24 >> 8)  # arithmetic shift: floor
    s32 = rng.integers(-(1 << 31), 1 << 31, size=(13, 2), dtype=np.int64)
    got32 = au.decode_audio_samples(_wave_module_wav(s32, 2, 48000, 4))
    assert np.array_equal(got32, s32 >> 16)


def _float32_wav(vals: np.ndarray, ch: int, rate: int,
                 extensible: bool = False, extra_chunk: bool = False) -> bytes:
    """Independent float WAV builder (the stdlib can't write float)."""
    raw = vals.astype("<f4").tobytes()
    if extensible:
        # WAVE_FORMAT_EXTENSIBLE wrapping IEEE float: base fmt with tag
        # 0xFFFE, cbSize=22, valid bits, channel mask, then the sub-format
        # GUID whose first u16 is the real tag (0x0003)
        fmt = struct.pack(
            "<HHIIHH", 0xFFFE, ch, rate, rate * 4 * ch, 4 * ch, 32
        ) + struct.pack("<HHI", 22, 32, 0) + struct.pack("<H", 3) + bytes(14)
    else:
        fmt = struct.pack("<HHIIHH", 3, ch, rate, rate * 4 * ch, 4 * ch, 32)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # odd-sized chunk BEFORE data: walker must pad-align
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_float32_decode_and_extensible_and_chunk_traps():
    vals = np.array([[0.5], [-0.25], [1.0], [-1.0], [0.0]], dtype=np.float64)
    got = au.decode_audio_samples(_float32_wav(vals, 1, 22050))
    # round at 32768 then clamp to int16 range (+1.0 -> 32767)
    assert got.flatten().tolist() == [16384, -8192, 32767, -32768, 0]
    # extensible wrapper resolves to the inner float tag
    ext = _float32_wav(vals, 1, 22050, extensible=True)
    assert au.probe_audio_format(ext)[:2] == ("wav", "float32")
    assert np.array_equal(au.decode_audio_samples(ext), got)
    # odd-sized LIST chunk before data: word-aligned walk still finds data
    trap = _float32_wav(vals, 1, 22050, extra_chunk=True)
    assert np.array_equal(au.decode_audio_samples(trap), got)


def test_wav_error_contract():
    vals = np.zeros((4, 1))
    data = bytearray(_float32_wav(vals, 1, 8000))
    # truncated data chunk -> ValueError
    with pytest.raises(ValueError):
        au.decode_audio_samples(bytes(data[:-7]))
    # no fmt chunk -> ValueError
    nofmt = b"RIFF" + struct.pack("<I", 12) + b"WAVE" + b"data" + struct.pack("<I", 0)
    with pytest.raises(ValueError):
        au.decode_audio_samples(nofmt)
    # compressed codec -> NotImplementedError boundary
    with pytest.raises(NotImplementedError):
        au.decode_audio_samples(au.synth_audio(5, 7))  # IMA ADPCM
    with pytest.raises(NotImplementedError):
        au.decode_audio_samples(au.synth_audio(6, 7))  # FLAC
    with pytest.raises(NotImplementedError):
        au.decode_audio_samples(b"not audio at all")


def test_flac_streaminfo_bit_unpack_independent():
    """Independent STREAMINFO builder: pack rate/channels/bits into the
    64-bit field the spec way (as one big integer), not the per-byte way
    the library synthesizer uses."""
    for rate, ch, bits in [(44100, 2, 16), (96000, 8, 24), (8000, 1, 4)]:
        packed = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | 12345
        info = bytes(10) + packed.to_bytes(8, "big") + bytes(16)
        data = b"fLaC" + bytes([0x80, 0, 0, 34]) + info
        got = au.probe_audio_format(data)
        assert got == ("flac", f"{bits}bit", rate, ch, False), got


def test_mp3_header_tables():
    # 192 kbps (index 11), 32 kHz (index 2), joint stereo (mode 1)
    hdr = bytes([0xFF, 0xFB, (11 << 4) | (2 << 2), 0x40]) + bytes(8)
    assert au.probe_audio_format(hdr) == ("mp3", "192kbps", 32000, 2, False)
    # free-format (index 0) and reserved (15) are bad headers
    for bri in (0, 15):
        hdr = bytes([0xFF, 0xFB, (bri << 4), 0x40]) + bytes(8)
        assert au.probe_audio_format(hdr)[1] == "bad-header"


def test_ogg_vorbis_id_header():
    data = au.synth_audio(8, 42)
    fmt, mode, rate, ch, ok = au.probe_audio_format(data)
    assert (fmt, mode, ch, ok) == ("ogg", "vorbis", 2, False)
    assert rate == au._rate(42)


def test_audio_classes_match_probe_and_boundary():
    """Every AUDIO_CLASSES fixture class must probe to its declared triple
    and have decode_audio_samples agree with the decodable flag — the
    image-stack consistency pin, applied to audio."""
    for k, (fmt, mode, ok) in enumerate(au.AUDIO_CLASSES):
        for d in (k, k + 10, k + 12340):
            payload = au.synth_audio(k, d)
            got = au.probe_audio_format(payload)
            assert (got[0], got[1], got[4]) == (fmt, mode, ok), (k, d, got)
            if ok:
                s = au.decode_audio_samples(payload)
                assert s.shape[0] == au._nframes(d), (k, d)
            else:
                with pytest.raises((NotImplementedError, ValueError)):
                    au.decode_audio_samples(payload)


def test_audio_stats_stage_and_row_isolation(spark):
    """Arrow stats stage over a mixed corpus including a corrupt payload:
    per-row isolation (the corrupt row gets err, the batch survives) and
    exact-integer stats for the decodable rows."""
    rows = [(str(d), au.synth_audio(d % 10, d)) for d in range(30)]
    rows.append(("corrupt", b"RIFF\x10\x00\x00\x00WAVEfmt "))  # short fmt
    assets = spark.createDataFrame(rows, "asset_id string, payload binary")
    got = {r["asset_id"]: r for r in au.audio_stats(assets).collect()}
    assert len(got) == 31
    assert got["corrupt"]["format"] == "wav"
    assert got["corrupt"]["err"] is not None
    for d in range(30):
        r = got[str(d)]
        k = d % 10
        fmt, mode, ok = au.AUDIO_CLASSES[k]
        assert r["format"] == fmt and r["mode"] == mode
        if k in (0, 3, 4):
            a, n = au._amp(d), au._nframes(d)
            assert r["peak16"] == a and r["sum_sq16"] == n * a * a, (d, r)
        if not ok and k != 9:
            assert r["sample_rate"] is not None  # header fields stay real
