"""Netpbm + TGA decode tests (`operators/simple_images.py`, round 11):
test-side writers with a real TGA RLE compressor, exact roundtrips
(lossless formats), origin/ASCII/16-bit variants, loud guards."""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proyecto_gasto_publico_etl_per__spark.operators import (  # noqa: E402
    multimodal,
    simple_images,
)


def _noise(w, h, ch, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, ch), dtype=np.uint8).tobytes()


# --- writers -------------------------------------------------------------------


def pnm_write(
    pixels: bytes, w: int, h: int, ch: int, ascii_mode: bool = False,
    maxval: int = 255,
) -> bytes:
    magic = {
        (1, False): b"P5", (3, False): b"P6",
        (1, True): b"P2", (3, True): b"P3",
    }[(ch, ascii_mode)]
    hdr = magic + f"\n# test\n{w} {h}\n{maxval}\n".encode()
    if ascii_mode:
        vals = [b * maxval // 255 for b in pixels]
        return hdr + " ".join(str(v) for v in vals).encode() + b"\n"
    if maxval > 255:
        body = b"".join(
            struct.pack(">H", b * maxval // 255) for b in pixels
        )
    else:
        body = bytes(b * maxval // 255 for b in pixels)
    return hdr + body


def tga_write(
    pixels: bytes, w: int, h: int, ch: int, rle: bool = False,
    top_left: bool = True,
) -> bytes:
    img_type = (3 if ch == 1 else 2) + (8 if rle else 0)
    desc = 0x20 if top_left else 0x00
    hdr = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, img_type, 0, 0, 0, 0, 0, w, h,
        ch * 8, desc,
    )
    rows = [pixels[y * w * ch : (y + 1) * w * ch] for y in range(h)]
    if not top_left:
        rows = rows[::-1]
    raw = b"".join(rows)
    if ch >= 3:  # RGB(A) → BGR(A) on disk
        b = bytearray(raw)
        b[0::ch], b[2::ch] = raw[2::ch], raw[0::ch]
        raw = bytes(b)
    if not rle:
        return hdr + raw
    # real RLE compressor: repeat runs >= 2 become run packets
    out = bytearray()
    px = [raw[i : i + ch] for i in range(0, len(raw), ch)]
    i = 0
    while i < len(px):
        run = 1
        while i + run < len(px) and px[i + run] == px[i] and run < 128:
            run += 1
        if run >= 2:
            out.append(0x80 | (run - 1))
            out += px[i]
            i += run
        else:
            j = i
            while (
                j < len(px)
                and j - i < 128
                and (j + 1 >= len(px) or px[j + 1] != px[j])
            ):
                j += 1
            out.append(j - i - 1)
            out += b"".join(px[i:j])
            i = j
    return hdr + bytes(out)


# --- netpbm --------------------------------------------------------------------


@pytest.mark.parametrize("ch", [1, 3])
@pytest.mark.parametrize("ascii_mode", [False, True])
def test_pnm_roundtrip(ch, ascii_mode):
    src = _noise(9, 7, ch, seed=ch)
    d = simple_images.pnm_decode(pnm_write(src, 9, 7, ch, ascii_mode))
    assert (d["width"], d["height"], d["channels"]) == (9, 7, ch)
    assert d["pixels"] == src


def test_pnm_16bit_and_scaled_maxval():
    src = _noise(5, 4, 3, seed=9)
    # 16-bit: written as v*65535//255 = v*257 → high byte == v exactly
    d = simple_images.pnm_decode(pnm_write(src, 5, 4, 3, maxval=65535))
    assert d["pixels"] == src
    # small maxval loses precision but stays in range
    d = simple_images.pnm_decode(pnm_write(src, 5, 4, 1, maxval=15))
    assert all(0 <= b <= 255 for b in d["pixels"])


def test_pnm_16bit_subrange_maxval_rescales_exactly():
    # 10-bit sensor dump: maxval=1023.  The old high-byte shortcut
    # mapped sample 1023 to 3 — must be 255 (ADVICE r11).
    for v, want in [(1023, 255), (0, 0), (512, 512 * 255 // 1023)]:
        bin_p5 = b"P5\n1 1\n1023\n" + struct.pack(">H", v)
        assert simple_images.pnm_decode(bin_p5)["pixels"][0] == want
        asc_p2 = f"P2\n1 1\n1023\n{v}\n".encode()
        assert simple_images.pnm_decode(asc_p2)["pixels"][0] == want
    # binary sub-range sample above maxval is corrupt, not wrapped
    with pytest.raises(ValueError, match="exceeds maxval"):
        simple_images.pnm_decode(b"P5\n1 1\n1023\n" + struct.pack(">H", 1024))


def test_p1_unseparated_digits():
    # whitespace between P1 samples is optional per the PBM spec
    bits = [1, 0, 0, 1, 1, 1, 0, 0, 1, 0]  # 5x2
    packed = b"P1\n5 2\n" + "".join(str(b) for b in bits).encode()
    d = simple_images.pnm_decode(packed)
    assert list(d["pixels"]) == [0 if b else 255 for b in bits]
    # header integers still multi-digit (the 5x2 above proves width=5,
    # and a 12-wide header must not split into 1,2)
    wide = b"P1\n12 1\n" + b"0" * 12
    assert simple_images.pnm_decode(wide)["width"] == 12


def test_pbm_bitmaps_both_modes():
    bits = [1, 0, 0, 1, 1, 1, 0, 0, 1, 0]  # 5x2
    ascii_p1 = b"P1\n5 2\n" + " ".join(str(b) for b in bits).encode()
    d = simple_images.pnm_decode(ascii_p1)
    assert list(d["pixels"]) == [0 if b else 255 for b in bits]
    # P4 packed: rows byte-aligned
    row_bytes = bytes([0b10011_000, 0b10010_000])
    d4 = simple_images.pnm_decode(b"P4\n5 2\n" + row_bytes)
    assert d4["pixels"] == d["pixels"]


def test_pnm_guards():
    with pytest.raises(ValueError, match="magic"):
        simple_images.pnm_decode(b"P9\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="truncated"):
        simple_images.pnm_decode(b"P5\n4 4\n255\n\x00\x00")
    with pytest.raises(ValueError, match="exceeds maxval"):
        simple_images.pnm_decode(b"P2\n1 1\n10\n99\n")


# --- TGA -----------------------------------------------------------------------


@pytest.mark.parametrize("ch", [1, 3, 4])
@pytest.mark.parametrize("rle", [False, True])
@pytest.mark.parametrize("top_left", [True, False])
def test_tga_roundtrip(ch, rle, top_left):
    src = _noise(11, 6, ch, seed=ch * 2 + rle)
    d = simple_images.tga_decode(
        tga_write(src, 11, 6, ch, rle=rle, top_left=top_left)
    )
    assert (d["width"], d["height"], d["channels"]) == (11, 6, ch)
    assert d["pixels"] == src


def test_tga_rle_compresses_runs_and_roundtrips():
    # flat image → mostly run packets; exactness proves the RLE path
    flat = bytes([7, 99, 200]) * (16 * 8)
    payload = tga_write(flat, 16, 8, 3, rle=True)
    assert len(payload) < 18 + len(flat) // 4  # actually compressed
    assert simple_images.tga_decode(payload)["pixels"] == flat


@pytest.mark.parametrize("ch", [1, 3])
@pytest.mark.parametrize("top_left", [True, False])
def test_tga_right_to_left_origin_mirrors_rows(ch, top_left):
    # descriptor bit 4 = right-to-left x-origin (ADVICE r11: was
    # silently ignored → horizontally mirrored decode)
    src = _noise(7, 3, ch, seed=40 + ch)
    payload = bytearray(tga_write(src, 7, 3, ch, top_left=top_left))
    base = simple_images.tga_decode(bytes(payload))["pixels"]
    assert base == src
    payload[17] |= 0x10  # flip the stored-order meaning, data unchanged
    got = simple_images.tga_decode(bytes(payload))["pixels"]
    arr = np.frombuffer(base, np.uint8).reshape(3, 7, ch)
    assert got == arr[:, ::-1, :].tobytes()


def test_tga_guards():
    with pytest.raises(NotImplementedError, match="colormapped"):
        bad = bytearray(tga_write(_noise(2, 2, 3), 2, 2, 3))
        bad[1] = 1  # colormap present
        simple_images.tga_decode(bytes(bad))
    with pytest.raises(NotImplementedError, match="type 1"):
        bad = bytearray(tga_write(_noise(2, 2, 3), 2, 2, 3))
        bad[2] = 1
        simple_images.tga_decode(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        simple_images.tga_decode(tga_write(_noise(4, 4, 3), 4, 4, 3)[:-5])


def test_decode_image_dispatches_pnm_and_tga():
    src = _noise(6, 6, 3, seed=3)
    assert multimodal.decode_image(pnm_write(src, 6, 6, 3))["pixels"] == src
    assert multimodal.decode_image(
        tga_write(src, 6, 6, 3, rle=True)
    )["pixels"] == src
    # and the decoders the dispatch routes to, called directly
    assert simple_images.pnm_decode(pnm_write(src, 6, 6, 3))["pixels"] == src
    assert simple_images.tga_decode(
        tga_write(src, 6, 6, 3, rle=True)
    )["pixels"] == src
