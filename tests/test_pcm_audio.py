"""AIFF / Sun AU / G.711 decode tests (`operators/pcm_audio.py`, round
11).  The G.711 expansions and AIFF files are pinned against
INDEPENDENT stdlib implementations (`audioop`, `aifc` — present in this
container's 3.11, deliberately unused by the engine path), so this is a
cross-implementation check, not a self-roundtrip."""

from __future__ import annotations

import struct
import sys
import warnings
from io import BytesIO
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proyecto_gasto_publico_etl_per__spark.operators import (  # noqa: E402
    multimodal,
    pcm_audio,
)

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    try:
        import aifc
        import audioop
    except ImportError:  # 3.13+: fall back to the writers below only
        aifc = audioop = None


# --- test-side writers ---------------------------------------------------------


def aiff_write(
    samples16: list[int], rate: int = 8000, nch: int = 1
) -> bytes:
    """Minimal plain-AIFF writer (COMM + SSND, 16-bit BE PCM)."""
    nframes = len(samples16) // nch
    # 80-bit extended encode for integer rates
    exp = 16383 + 63
    mant = rate
    while mant < (1 << 63):
        mant <<= 1
        exp -= 1
    comm = struct.pack(">HIH", nch, nframes, 16) + struct.pack(
        ">HQ", exp, mant
    )
    ssnd = struct.pack(">II", 0, 0) + b"".join(
        struct.pack(">h", s) for s in samples16
    )
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def au_write(
    data: bytes, enc: int, rate: int = 8000, nch: int = 1,
    annotation: bytes = b"",
) -> bytes:
    hdr = b".snd" + struct.pack(
        ">IIIII", 24 + len(annotation), len(data), enc, rate, nch
    )
    return hdr + annotation + data


# --- G.711 vs the independent stdlib implementation ---------------------------


@pytest.mark.skipif(audioop is None, reason="audioop removed (3.13+)")
def test_ulaw_table_matches_audioop_all_codes():
    codes = bytes(range(256))
    ref = struct.unpack("<256h", audioop.ulaw2lin(codes, 2))
    assert pcm_audio.ULAW_TABLE == list(ref)


@pytest.mark.skipif(audioop is None, reason="audioop removed (3.13+)")
def test_alaw_table_matches_audioop_all_codes():
    codes = bytes(range(256))
    ref = struct.unpack("<256h", audioop.alaw2lin(codes, 2))
    assert pcm_audio.ALAW_TABLE == list(ref)


def test_extended80_roundtrips_common_rates():
    for rate in (8000, 11025, 22050, 44100, 48000, 96000):
        exp = 16383 + 63
        mant = rate
        while mant < (1 << 63):
            mant <<= 1
            exp -= 1
        b10 = struct.pack(">HQ", exp, mant)
        assert pcm_audio.read_extended80(b10) == float(rate)
    with pytest.raises(ValueError):
        pcm_audio.read_extended80(struct.pack(">HQ", 0x7FFF, 1 << 63))


# --- AIFF ----------------------------------------------------------------------


def test_aiff_decode_matches_stdlib_written_file():
    rng = np.random.default_rng(1)
    samples = [int(v) for v in rng.integers(-30000, 30000, 400)]
    if aifc is not None:
        class _KeepOpen(BytesIO):
            def close(self):  # aifc.close() closes the sink; keep bytes
                pass

        buf = _KeepOpen()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            w = aifc.open(buf, "wb")
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(44100)
            w.aiff()  # plain AIFF, not AIFF-C
            w.writeframes(
                b"".join(struct.pack(">h", s) for s in samples)
            )
            w.close()
        payload = buf.getvalue()
    else:
        payload = aiff_write(samples, rate=44100, nch=2)
    d = pcm_audio.aiff_decode(payload)
    assert d["sample_rate"] == 44100 and d["n_channels"] == 2
    assert d["samples"] == [s / 32768.0 for s in samples]
    # and through the decode_audio dispatch
    assert multimodal.decode_audio(payload) == d


def test_aiff_own_writer_and_guards():
    samples = [0, 100, -100, 32000, -32000]
    d = pcm_audio.aiff_decode(aiff_write(samples))
    assert d["samples"] == [s / 32768.0 for s in samples]
    with pytest.raises(ValueError, match="FORM"):
        pcm_audio.aiff_decode(b"RIFFxxxxWAVE")
    # AIFF-C with a real codec: loud guard, not corrupt
    body = (
        b"AIFC"
        + b"COMM" + struct.pack(">I", 24)
        + struct.pack(">HIH", 1, 0, 16)
        + struct.pack(">HQ", 16383 + 63 - 50, 8000 << 50)
        + b"ulaw\x00\x00"
        + b"SSND" + struct.pack(">I", 8) + struct.pack(">II", 0, 0)
    )
    with pytest.raises(NotImplementedError, match="compression"):
        pcm_audio.aiff_decode(
            b"FORM" + struct.pack(">I", len(body)) + body
        )
    # SSND shorter than COMM's frame count: corrupt
    trunc = aiff_write(samples)[:-4]
    with pytest.raises(ValueError):
        pcm_audio.aiff_decode(trunc)


# --- AU ------------------------------------------------------------------------


def test_au_pcm16_and_annotation_offset():
    rng = np.random.default_rng(2)
    samples = [int(v) for v in rng.integers(-30000, 30000, 300)]
    data = b"".join(struct.pack(">h", s) for s in samples)
    payload = au_write(data, enc=3, rate=16000, nch=3, annotation=b"meta\x00\x00")
    d = pcm_audio.au_decode(payload)
    assert (d["sample_rate"], d["n_channels"]) == (16000, 3)
    assert d["samples"] == [s / 32768.0 for s in samples]
    assert multimodal.decode_audio(payload) == d


@pytest.mark.skipif(audioop is None, reason="audioop removed (3.13+)")
def test_au_g711_streams_match_audioop():
    rng = np.random.default_rng(3)
    lin = b"".join(
        struct.pack("<h", int(v)) for v in rng.integers(-30000, 30000, 500)
    )
    for enc, compress, expand in (
        (1, audioop.lin2ulaw, audioop.ulaw2lin),
        (27, audioop.lin2alaw, audioop.alaw2lin),
    ):
        codes = compress(lin, 2)
        d = pcm_audio.au_decode(au_write(codes, enc=enc))
        ref = struct.unpack(f"<{len(codes)}h", expand(codes, 2))
        assert d["samples"] == [x / 32768.0 for x in ref]


def test_au_floats_and_guards():
    vals = [0.0, 0.5, -0.25, 1.0]
    d = pcm_audio.au_decode(
        au_write(struct.pack(">4f", *vals), enc=6)
    )
    assert d["samples"] == vals
    d = pcm_audio.au_decode(
        au_write(struct.pack(">4d", *vals), enc=7)
    )
    assert d["samples"] == vals
    with pytest.raises(NotImplementedError, match="encoding 23"):
        pcm_audio.au_decode(au_write(b"\x00\x00", enc=23))  # G.721 ADPCM
    with pytest.raises(ValueError, match="truncated"):
        pcm_audio.au_decode(au_write(b"\x00\x00", enc=3)[:-1])
    with pytest.raises(ValueError, match="magic"):
        pcm_audio.au_decode(b"RIFFxxxx")


def test_audio_features_flow_through_aiff_and_au():
    """The multimodal feature tiers run unchanged on the new formats."""
    t = np.arange(2048) / 8000.0
    tone = (np.sin(2 * np.pi * 500.0 * t) * 20000).astype(int).tolist()
    for payload in (
        aiff_write(tone),
        au_write(b"".join(struct.pack(">h", s) for s in tone), enc=3),
    ):
        feats = multimodal.audio_features(payload, dim=7)
        assert feats[0] == 8000.0 and feats[1] == 1.0
        assert any(abs(v) > 1e-6 for v in feats[5:])  # mel tail live


# --- full WAV parser -----------------------------------------------------------


def _wav_write(
    data: bytes, tag: int, bits: int, rate: int = 8000, nch: int = 1,
    extensible: bool = False,
) -> bytes:
    if extensible:
        fmt = struct.pack(
            "<HHIIHH", 0xFFFE, nch, rate, rate * nch * bits // 8,
            nch * bits // 8, bits,
        ) + struct.pack("<HHI", 22, bits, 0x1) + struct.pack(
            "<H", tag
        ) + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    else:
        fmt = struct.pack(
            "<HHIIHH", tag, nch, rate, rate * nch * bits // 8,
            nch * bits // 8, bits,
        )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_pcm_widths_match_wave_module_semantics():
    rng = np.random.default_rng(5)
    ints = [int(v) for v in rng.integers(-30000, 30000, 200)]
    d16 = pcm_audio.wav_decode(
        _wav_write(b"".join(struct.pack("<h", s) for s in ints), 1, 16)
    )
    assert d16["samples"] == [s / 32768.0 for s in ints]
    b8 = bytes(rng.integers(0, 256, 100, dtype=np.uint8))
    d8 = pcm_audio.wav_decode(_wav_write(b8, 1, 8))
    assert d8["samples"] == [(b - 128) / 128.0 for b in b8]
    # 24-bit: beyond what the wave-module path handled
    s24 = [8388607, -8388608, 0, 12345]
    data24 = b"".join(
        x.to_bytes(3, "little", signed=True) for x in s24
    )
    d24 = pcm_audio.wav_decode(_wav_write(data24, 1, 24))
    assert d24["samples"] == [x / 8388608.0 for x in s24]


@pytest.mark.skipif(audioop is None, reason="audioop removed (3.13+)")
def test_wav_g711_tags_match_audioop():
    rng = np.random.default_rng(6)
    lin = b"".join(
        struct.pack("<h", int(v)) for v in rng.integers(-30000, 30000, 300)
    )
    for tag, compress, expand in (
        (7, audioop.lin2ulaw, audioop.ulaw2lin),
        (6, audioop.lin2alaw, audioop.alaw2lin),
    ):
        codes = compress(lin, 2)
        d = pcm_audio.wav_decode(_wav_write(codes, tag, 8))
        ref = struct.unpack(f"<{len(codes)}h", expand(codes, 2))
        assert d["samples"] == [x / 32768.0 for x in ref]


def test_wav_float_and_extensible_and_guards():
    vals = [0.0, 0.5, -0.25, 1.0]
    d = pcm_audio.wav_decode(
        _wav_write(struct.pack("<4f", *vals), 3, 32)
    )
    assert d["samples"] == vals
    # EXTENSIBLE wrapping PCM resolves through the SubFormat
    ints = [100, -100]
    d = pcm_audio.wav_decode(
        _wav_write(
            b"".join(struct.pack("<h", s) for s in ints), 1, 16,
            extensible=True,
        )
    )
    assert d["samples"] == [s / 32768.0 for s in ints]
    with pytest.raises(NotImplementedError, match="format tag 2"):
        pcm_audio.wav_decode(_wav_write(b"\x00\x00", 2, 4))  # MS ADPCM
    with pytest.raises(ValueError, match="truncated"):
        pcm_audio.wav_decode(_wav_write(b"\x00\x00", 1, 16)[:-1])


def test_decode_audio_dispatches_wav_through_full_parser():
    """decode_audio keeps byte-identical WAV semantics through the new
    parser, and now also decodes a mu-law WAV for real."""
    import wave as wave_mod
    from io import BytesIO as _B

    buf = _B()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<4h", 0, 16384, -16384, 0))
    d = multimodal.decode_audio(buf.getvalue())
    assert d["samples"] == [0.0, 0.5, -0.5, 0.0]
    if audioop is not None:
        codes = audioop.lin2ulaw(struct.pack("<4h", 0, 8000, -8000, 0), 2)
        d = multimodal.decode_audio(_wav_write(codes, 7, 8))
        assert d["n_channels"] == 1 and len(d["samples"]) == 4


def test_second_review_fixes_locked():
    """Late-r11 review findings, locked: denormal/negative AIFF rates
    and zero channels are corrupt; a vendor EXTENSIBLE GUID sharing
    PCM's first u16 hits the loud guard; hamming_pairs refuses radii
    that would degrade to all-pairs."""
    # denormal 80-bit rate (exp=0, mant=1) → rate < 1 → corrupt
    samples = [0, 1, -1]
    payload = bytearray(aiff_write(samples))
    at = payload.index(b"COMM") + 8 + 8  # chunk hdr + nch/nframes/bits
    payload[at : at + 10] = struct.pack(">HQ", 0, 1)
    with pytest.raises(ValueError, match="non-positive"):
        pcm_audio.aiff_decode(bytes(payload))
    # sign-bit-set rate → negative → corrupt
    payload[at : at + 10] = struct.pack(">HQ", 0x8000 | (16383 + 12), 1 << 63)
    with pytest.raises(ValueError, match="non-positive"):
        pcm_audio.aiff_decode(bytes(payload))
    # zero channels
    payload2 = bytearray(aiff_write(samples))
    at2 = payload2.index(b"COMM") + 8
    payload2[at2 : at2 + 2] = struct.pack(">H", 0)
    with pytest.raises(ValueError, match="non-positive"):
        pcm_audio.aiff_decode(bytes(payload2))

    # vendor GUID with PCM's first u16: loud guard, never PCM garbage
    wav = bytearray(
        _wav_write(b"\x00\x00\x00\x00", 1, 16, extensible=True)
    )
    guid_at = wav.index(b"fmt ") + 8 + 26
    wav[guid_at] ^= 0xFF  # corrupt one suffix byte
    with pytest.raises(NotImplementedError, match="SubFormat"):
        pcm_audio.wav_decode(bytes(wav))

    from proyecto_gasto_publico_etl_per__spark.operators.dedup import (
        hamming_pairs,
    )

    with pytest.raises(ValueError, match="max_hamming"):
        hamming_pairs(None, "id", "h", -1, 64)
    with pytest.raises(ValueError, match="smaller radius"):
        hamming_pairs(None, "id", "h", 64, 64)  # chunk width would be 0
