"""GIF decoder tests (`operators/gif.py`) against a test-side encoder
with a real LZW compressor.  GIF is lossless indexed color, so frame
round-trips assert exact pixel equality."""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proyecto_gasto_publico_etl_per__spark.operators import (  # noqa: E402
    gif,
    multimodal,
)


# --- test-side encoder -------------------------------------------------------


def _lzw_encode(indices: list[int], min_code: int) -> bytes:
    """Standard GIF LZW: emit CLEAR, grow the dictionary, CLEAR again on
    12-bit overflow, END at the end; LSB-first variable-width packing."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1
    emit(clear, width)
    seq: tuple[int, ...] = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        # width grows when the NEXT code to assign crosses the boundary
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code > 4095:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        seq = (px,)
    if seq:
        emit(table[seq], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        part = data[i : i + 255]
        out.append(len(part))
        out += part
    out.append(0)
    return bytes(out)


def _deinterlace_rows(h: int) -> list[int]:
    rows = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(start, h, step))
    return rows


def gif_write(
    frames: list[dict],
    w: int,
    h: int,
    gct: bytes,
) -> bytes:
    """frames: [{idx: np.ndarray[h,w], transparent, interlace, lct}] —
    minimal but valid GIF89a; every frame sits at the screen origin."""
    depth = max(1, (len(gct) // 3 - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (depth - 1), 0, 0])
    out += gct
    for fr in frames:
        idx = fr["idx"]
        fh, fw = idx.shape
        if fr.get("transparent") is not None:
            out += bytes([0x21, 0xF9, 4, 1, 0, 0, fr["transparent"], 0])
        out += bytes([0x2C])
        out += struct.pack("<HHHH", 0, 0, fw, fh)
        lct = fr.get("lct")
        p2 = 0x40 if fr.get("interlace") else 0
        if lct:
            ldepth = max(1, (len(lct) // 3 - 1).bit_length())
            p2 |= 0x80 | (ldepth - 1)
        out += bytes([p2])
        if lct:
            out += lct
        rows = idx
        if fr.get("interlace"):
            rows = idx[_deinterlace_rows(fh)]
        min_code = max(2, depth)
        out += bytes([min_code])
        out += _blocks(
            _lzw_encode([int(v) for v in rows.reshape(-1)], min_code)
        )
    out += b"\x3b"
    return bytes(out)


# --- tests -------------------------------------------------------------------

GCT = bytes(
    [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0,
     0, 255, 255, 10, 20, 30, 200, 100, 50, 0, 0, 0]
)  # 8 colors → depth 3
PAL = np.frombuffer(GCT, np.uint8).reshape(-1, 3)


def _rand_idx(h, w, seed=3, hi=8):
    return np.random.RandomState(seed).randint(0, hi, (h, w)).astype(np.uint8)


def test_single_frame_roundtrip_exact():
    idx = _rand_idx(17, 23)
    d = gif.gif_decode(gif_write([{"idx": idx}], 23, 17, GCT))
    assert (d["width"], d["height"], d["channels"]) == (23, 17, 3)
    got = np.frombuffer(d["pixels"], np.uint8).reshape(17, 23, 3)
    assert (got == PAL[idx]).all()


def test_interlaced_matches_sequential():
    idx = _rand_idx(13, 9, seed=5)
    seq = gif.gif_decode(gif_write([{"idx": idx}], 9, 13, GCT))
    lac = gif.gif_decode(
        gif_write([{"idx": idx, "interlace": True}], 9, 13, GCT)
    )
    assert seq["pixels"] == lac["pixels"]


def test_lzw_dictionary_growth_exercised():
    """A long frame (4096+ pixels with structure) forces the LZW code
    width past its initial size — the growth path must stay exact."""
    idx = (np.arange(80 * 80) % 7).astype(np.uint8).reshape(80, 80)
    d = gif.gif_decode(gif_write([{"idx": idx}], 80, 80, GCT))
    got = np.frombuffer(d["pixels"], np.uint8).reshape(80, 80, 3)
    assert (got == PAL[idx]).all()


def test_transparency_first_frame_rgba():
    idx = np.array([[0, 1], [2, 1]], np.uint8)
    d = gif.gif_decode(
        gif_write([{"idx": idx, "transparent": 1}], 2, 2, GCT)
    )
    assert d["channels"] == 4
    got = np.frombuffer(d["pixels"], np.uint8).reshape(2, 2, 4)
    assert (got[idx == 1][:, 3] == 0).all()
    assert (got[idx != 1][:, 3] == 255).all()
    assert (got[0, 0, :3] == PAL[0]).all()


def test_decode_image_dispatches_gif():
    idx = _rand_idx(5, 6, seed=9)
    d = multimodal.decode_image(gif_write([{"idx": idx}], 6, 5, GCT))
    assert (d["width"], d["height"], d["channels"]) == (6, 5, 3)


def test_malformed_gif_raises():
    with pytest.raises(ValueError):
        gif.gif_decode(b"GIF89ajunkjunkjunk")
    with pytest.raises(ValueError):
        gif.gif_decode(b"not a gif")
    good = gif_write([{"idx": _rand_idx(6, 6)}], 6, 6, GCT)
    with pytest.raises(ValueError):
        gif.gif_decode(good[:20])


# --- property test: lossless indexed round-trip ------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    interlace=st.booleans(),
    n_colors=st.sampled_from([2, 4, 8]),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_property(w, h, interlace, n_colors, seed):
    """GIF is lossless indexed color: any geometry (1px edges, odd
    dims with ragged interlace passes), palette size, and random
    content must round-trip to exact palette-mapped pixels."""
    rng = np.random.RandomState(seed)
    gct = bytes(rng.randint(0, 256, 3 * n_colors).astype(np.uint8))
    idx = rng.randint(0, n_colors, (h, w)).astype(np.uint8)
    d = gif.gif_decode(
        gif_write([{"idx": idx, "interlace": interlace}], w, h, gct)
    )
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    got = np.frombuffer(d["pixels"], np.uint8).reshape(h, w, 3)
    pal = np.frombuffer(gct, np.uint8).reshape(-1, 3)
    assert (got == pal[idx]).all()


def test_lzw_malformed_first_code_raises_valueerror():
    """r10 ADVICE: a corrupt FIRST code after clear (no prev yet) with
    a value past the literal roots must hit the module's ValueError
    contract for malformed streams, not IndexError / a silent empty
    placeholder expansion."""
    min_code = 2  # clear=4, end=5, roots 0..3
    for bad in (6, 7):  # past the placeholders: formerly table[v]
        # pack the single bad 3-bit code LSB-first
        data = bytes([bad & 0b111])
        with pytest.raises(ValueError, match="code out of range"):
            gif._lzw_decode(data, min_code, expect=4)
    # the clear/end placeholder slots are equally malformed as a first
    # data code only when they decode to the EMPTY tuple: code 4 is a
    # clear (legal no-op) and 5 ends the stream (legal short output),
    # so only codes >= clear+2 are the corrupt-table case — but any
    # v >= clear must not emit pixels from the placeholder slots
    out = gif._lzw_decode(bytes([5]), min_code, expect=0)
    assert out == []
