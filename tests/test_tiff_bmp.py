"""Baseline TIFF and BMP decode tests (`operators/tiff.py`,
`operators/bmp.py`, round 11): test-side writers with real LZW /
PackBits / RLE8 compressors (the png_ref pattern), exact roundtrips —
both formats are lossless, so byte equality, no tolerance."""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proyecto_gasto_publico_etl_per__spark.operators import (  # noqa: E402
    bmp,
    multimodal,
    tiff,
)


# --- test-side TIFF writer ----------------------------------------------------


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Real TIFF LZW compressor: MSB-first packing, early width change."""
    out = bytearray()
    acc = n = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, n
        acc = (acc << width) | code
        n += width
        while n >= 8:
            out.append((acc >> (n - 8)) & 0xFF)
            n -= 8
            acc &= (1 << n) - 1

    clear, eoi = 256, 257
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(clear, width)
    cur = b""
    for b in data:
        ext = cur + bytes([b])
        if ext in table:
            cur = ext
            continue
        put(table[cur], width)
        table[ext] = next_code
        next_code += 1
        # early change: encoder widens when next_code+1 would overflow
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:  # keep the table inside 12 bits
            put(clear, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([b])
    if cur:
        put(table[cur], width)
    put(eoi, width)
    if n:
        put(0, 8 - n)  # flush
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Real PackBits: repeat runs >= 3 become (257-len, byte), the rest
    literal runs (<= 128 each)."""
    out = bytearray()
    i, n = 0, len(data)
    lit = bytearray()

    def flush_lit() -> None:
        nonlocal lit
        j = 0
        while j < len(lit):
            chunk = lit[j : j + 128]
            out.append(len(chunk) - 1)
            out.extend(chunk)
            j += 128
        lit = bytearray()

    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 3:
            flush_lit()
            out.append(257 - run)
            out.append(data[i])
        else:
            lit += data[i : i + run]
        i += run
    flush_lit()
    return bytes(out)


def tiff_encode(
    pixels: bytes,
    w: int,
    h: int,
    channels: int,
    compression: int = 1,
    rows_per_strip: int | None = None,
    predictor: int = 1,
    big_endian: bool = False,
    photometric: int | None = None,
    colormap: list[int] | None = None,
) -> bytes:
    bo = ">" if big_endian else "<"
    rows_per_strip = rows_per_strip or h
    if photometric is None:
        photometric = 1 if channels == 1 else 2
    row_bytes = w * channels
    data = bytearray(pixels)
    if predictor == 2:
        for y in range(h - 1, -1, -1):
            base = y * row_bytes
            for x in range(row_bytes - 1, channels - 1, -1):
                data[base + x] = (
                    data[base + x] - data[base + x - channels]
                ) & 0xFF
    strips = []
    for y0 in range(0, h, rows_per_strip):
        chunk = bytes(
            data[y0 * row_bytes : min(y0 + rows_per_strip, h) * row_bytes]
        )
        if compression == 5:
            chunk = _tiff_lzw_encode(chunk)
        elif compression == 32773:
            chunk = _packbits_encode(chunk)
        strips.append(chunk)

    entries = []  # (tag, type, count, packed-value or bytes-to-place)
    extra = bytearray()  # out-of-line values, placed after the IFD

    def entry(tag: int, typ: int, vals: list[int]) -> None:
        entries.append((tag, typ, vals))

    entry(256, 3, [w])
    entry(257, 3, [h])
    entry(258, 3, [8] * channels)
    entry(259, 3, [compression])
    entry(262, 3, [photometric])
    entry(277, 3, [channels])
    entry(278, 3, [rows_per_strip])
    if predictor != 1:
        entry(317, 3, [predictor])
    if colormap is not None:
        entry(320, 3, colormap)
    # strip tables get placeholder values, patched after layout
    entry(273, 4, [0] * len(strips))
    entry(279, 4, [len(s) for s in strips])

    entries.sort(key=lambda e: e[0])
    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    n_entries = len(entries)
    ifd_size = 2 + 12 * n_entries + 4
    extra_off = 8 + ifd_size
    built = bytearray()
    packed_entries = bytearray()
    offsets_patch = None
    for tag, typ, vals in entries:
        size = {3: 2, 4: 4}[typ]
        raw = b"".join(
            struct.pack(bo + ("H" if typ == 3 else "I"), v) for v in vals
        )
        if len(raw) <= 4:
            val_field = raw + b"\x00" * (4 - len(raw))
        else:
            val_field = struct.pack(bo + "I", extra_off + len(built))
            if tag == 273:
                offsets_patch = ("extra", len(built))
            built += raw
        if tag == 273 and len(raw) <= 4:
            offsets_patch = ("inline", len(packed_entries) + 8)
        packed_entries += struct.pack(bo + "HHI", tag, typ, len(vals))
        packed_entries += val_field
    ifd = struct.pack(bo + "H", n_entries) + packed_entries + b"\x00" * 4
    strip_start = extra_off + len(built)
    # patch real strip offsets
    offs, pos = [], strip_start
    for s in strips:
        offs.append(pos)
        pos += len(s)
    raw_offs = b"".join(struct.pack(bo + "I", o) for o in offs)
    if offsets_patch[0] == "extra":
        built[offsets_patch[1] : offsets_patch[1] + len(raw_offs)] = raw_offs
    else:
        ifd = bytearray(ifd)
        at = 2 + offsets_patch[1]
        ifd[at : at + len(raw_offs)] = raw_offs
        ifd = bytes(ifd)
    return header + bytes(ifd) + bytes(built) + b"".join(strips)


# --- test-side BMP writer -----------------------------------------------------


def bmp_encode(
    pixels: bytes,
    w: int,
    h: int,
    channels: int,
    top_down: bool = False,
    palette: list[bytes] | None = None,
) -> bytes:
    if channels == 1:
        pal = palette or [bytes([i, i, i, 0]) for i in range(256)]
        pal_bytes = b"".join(pal)
        stride = (w + 3) & ~3
        rows = [
            pixels[y * w : (y + 1) * w].ljust(stride, b"\x00")
            for y in range(h)
        ]
        bpp = 8
    else:
        pal_bytes = b""
        ch = channels
        stride = (w * ch + 3) & ~3
        rows = []
        for y in range(h):
            row = bytearray()
            for x in range(w):
                px = pixels[(y * w + x) * ch : (y * w + x) * ch + ch]
                row += bytes([px[2], px[1], px[0]]) + (
                    bytes([px[3]]) if ch == 4 else b""
                )
            rows.append(bytes(row).ljust(stride, b"\x00"))
        bpp = channels * 8
    if not top_down:
        rows = rows[::-1]
    body = b"".join(rows)
    data_off = 14 + 40 + len(pal_bytes)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (h if not top_down else -h), 1, bpp,
        0, len(body), 2835, 2835, len(pal_bytes) // 4, 0,
    )
    hdr = struct.pack("<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off)
    return hdr + info + pal_bytes + body


def _noise(w: int, h: int, channels: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, channels), dtype=np.uint8).tobytes()


# --- TIFF tests ----------------------------------------------------------------


@pytest.mark.parametrize("compression", [1, 5, 32773])
@pytest.mark.parametrize("channels", [1, 3])
def test_tiff_roundtrip_compressions(compression, channels):
    src = _noise(13, 9, channels, seed=compression * 10 + channels)
    payload = tiff_encode(src, 13, 9, channels, compression=compression)
    d = tiff.tiff_decode(payload)
    assert (d["width"], d["height"], d["channels"]) == (13, 9, channels)
    assert d["pixels"] == src


def test_tiff_multi_strip_and_big_endian():
    src = _noise(10, 11, 3, seed=4)
    for be in (False, True):
        payload = tiff_encode(
            src, 10, 11, 3, compression=5, rows_per_strip=3, big_endian=be
        )
        assert tiff.tiff_decode(payload)["pixels"] == src


def test_tiff_horizontal_predictor_with_lzw():
    # smooth gradients are the predictor's target payload
    y, x = np.mgrid[0:8, 0:15]
    src = ((x * 7 + y * 5) % 256).astype(np.uint8).tobytes()
    payload = tiff_encode(src, 15, 8, 1, compression=5, predictor=2)
    assert tiff.tiff_decode(payload)["pixels"] == src
    rgb = np.repeat(
        np.frombuffer(src, np.uint8), 3
    ).astype(np.uint8).tobytes()
    payload = tiff_encode(rgb, 15, 8, 3, compression=5, predictor=2)
    assert tiff.tiff_decode(payload)["pixels"] == rgb


def test_tiff_white_is_zero_inverts():
    src = _noise(6, 4, 1, seed=8)
    payload = tiff_encode(src, 6, 4, 1, photometric=0)
    inv = bytes(255 - b for b in src)
    assert tiff.tiff_decode(payload)["pixels"] == inv


def test_tiff_palette_color():
    idx = _noise(9, 5, 1, seed=5)
    rng = np.random.default_rng(6)
    cmap16 = list(rng.integers(0, 65536, 3 * 256))
    payload = tiff_encode(
        idx, 9, 5, 1, photometric=3, colormap=[int(v) for v in cmap16]
    )
    d = tiff.tiff_decode(payload)
    assert d["channels"] == 3
    expect = b"".join(
        bytes(
            (int(cmap16[plane * 256 + i]) >> 8) & 0xFF for plane in range(3)
        )
        for i in idx
    )
    assert d["pixels"] == expect


def test_tiff_rgba_extra_sample_passthrough():
    src = _noise(5, 5, 4, seed=11)
    payload = tiff_encode(src, 5, 5, 4, compression=32773)
    d = tiff.tiff_decode(payload)
    assert d["channels"] == 4
    assert d["pixels"] == src


def test_tiff_guards_and_malformed():
    src = _noise(4, 4, 1, seed=1)
    good = tiff_encode(src, 4, 4, 1)
    with pytest.raises(ValueError, match="byte-order"):
        tiff.tiff_decode(b"XX" + good[2:])
    # unsupported compression id
    bad = tiff_encode(src, 4, 4, 1)
    with pytest.raises(NotImplementedError, match="compression 7"):
        # patch the compression SHORT (tag 259) to 7 = in-TIFF JPEG
        idx = bad.index(struct.pack("<HH", 259, 3))
        tiff.tiff_decode(
            bad[: idx + 8] + struct.pack("<H", 7) + bad[idx + 10 :]
        )
    with pytest.raises(ValueError):
        tiff.tiff_decode(good[: len(good) // 2])  # strips truncated


def test_tiff_lzw_sweep_random():
    rng = np.random.default_rng(77)
    for trial in range(10):
        w = int(rng.integers(1, 30))
        h = int(rng.integers(1, 20))
        ch = int(rng.choice([1, 3, 4]))
        rps = int(rng.choice([1, 4, 100]))
        src = _noise(w, h, ch, seed=500 + trial)
        payload = tiff_encode(
            src, w, h, ch, compression=5, rows_per_strip=rps
        )
        assert tiff.tiff_decode(payload)["pixels"] == src, (w, h, ch, rps)


# --- BMP tests ------------------------------------------------------------------


@pytest.mark.parametrize("channels", [3, 4])
@pytest.mark.parametrize("top_down", [False, True])
def test_bmp_roundtrip_truecolor(channels, top_down):
    src = _noise(7, 5, channels, seed=channels)
    d = bmp.bmp_decode(bmp_encode(src, 7, 5, channels, top_down=top_down))
    assert (d["width"], d["height"], d["channels"]) == (7, 5, channels)
    assert d["pixels"] == src


def test_bmp_palette_grayscale_collapses_to_one_channel():
    src = _noise(9, 4, 1, seed=2)
    d = bmp.bmp_decode(bmp_encode(src, 9, 4, 1))
    assert d["channels"] == 1
    assert d["pixels"] == src


def test_bmp_palette_color_expands_to_rgb():
    idx = bytes([0, 1, 2, 3] * 4)
    pal = [bytes([10, 20, 30, 0]), bytes([40, 50, 60, 0]),
           bytes([70, 80, 90, 0]), bytes([1, 2, 3, 0])]
    d = bmp.bmp_decode(bmp_encode(idx, 4, 4, 1, palette=pal))
    assert d["channels"] == 3
    # palette entries are BGR on disk; decode returns RGB
    assert d["pixels"][:3] == bytes([30, 20, 10])


def test_bmp_guards_and_malformed():
    src = _noise(4, 4, 3, seed=3)
    good = bmp_encode(src, 4, 4, 3)
    with pytest.raises(ValueError, match="BM magic"):
        bmp.bmp_decode(b"XX" + good[2:])
    bad = bytearray(good)
    struct.pack_into("<H", bad, 28, 16)  # bpp=16
    with pytest.raises(NotImplementedError, match="16-bit"):
        bmp.bmp_decode(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        bmp.bmp_decode(good[: len(good) - 10])


def test_decode_image_dispatches_tiff_and_bmp():
    src = _noise(6, 6, 3, seed=9)
    for payload in (
        tiff_encode(src, 6, 6, 3, compression=5),
        bmp_encode(src, 6, 6, 3),
    ):
        d = multimodal.decode_image(payload)
        assert d["pixels"] == src
    # and the decoder the dispatch routes to, called directly
    assert tiff.tiff_decode(tiff_encode(src, 6, 6, 3))["pixels"] == src


def test_bmp_rle8_implausible_dimensions_raise_before_allocating():
    """A ~70-byte RLE8 BMP claiming 50000x50000 must raise the
    contract's ValueError, not attempt a multi-GB allocation."""
    tiny = bmp_encode(bytes(16), 4, 4, 1)
    bad = bytearray(tiny)
    struct.pack_into("<ii", bad, 18, 50000, 50000)  # width, height
    struct.pack_into("<I", bad, 30, 1)  # compression = RLE8
    with pytest.raises(ValueError, match="implausible"):
        bmp.bmp_decode(bytes(bad))
