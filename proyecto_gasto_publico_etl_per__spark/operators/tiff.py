"""Baseline TIFF decode — pure stdlib, no Pillow (round 11).

Baseline TIFF meets the kept-codec rule in ``codec_errors`` because
everything is structural or algorithmic — the IFD tag walk is
plain struct unpacking, and all three baseline compressions are
table-free algorithms (none / PackBits RLE / TIFF-flavor LZW with its
MSB-first packing and early code-width change).  Covered: striped
8-bit grayscale / RGB / RGBA (chunky), palette-color (16-bit colormap
scaled to 8), WhiteIsZero inversion, the horizontal-differencing
predictor, both byte orders, multi-strip images.  Tiled layout,
16-bit samples, planar configuration, and JPEG/deflate-in-TIFF raise
loud ``NotImplementedError`` guards toward Pillow.

Output contract matches ``multimodal._png_decode``:
``{width, height, channels, pixels}`` row-major interleaved uint8.
"""

from __future__ import annotations
from .codec_errors import corrupt_guard

import struct

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd(payload: bytes, bo: str):
    """First-IFD tag dict: tag -> list of integer values."""
    (off,) = struct.unpack(bo + "I", payload[4:8])
    if off + 2 > len(payload):
        raise ValueError("TIFF IFD offset out of range")
    (count,) = struct.unpack(bo + "H", payload[off : off + 2])
    tags: dict[int, list[int]] = {}
    if off + 2 + 12 * count > len(payload):
        raise ValueError("TIFF IFD truncated")
    for i in range(count):
        e = off + 2 + 12 * i
        tag, typ = struct.unpack(bo + "HH", payload[e : e + 4])
        (n,) = struct.unpack(bo + "I", payload[e + 4 : e + 8])
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue  # unknown type: skip the entry, per spec advice
        total = size * n
        if total <= 4:
            raw = payload[e + 8 : e + 8 + total]
        else:
            (voff,) = struct.unpack(bo + "I", payload[e + 8 : e + 12])
            raw = payload[voff : voff + total]
            if len(raw) != total:
                raise ValueError(f"TIFF tag {tag} value overruns payload")
        if typ == 3:
            vals = list(struct.unpack(bo + f"{n}H", raw))
        elif typ == 4:
            vals = list(struct.unpack(bo + f"{n}I", raw))
        elif typ in (1, 6, 7):
            vals = list(raw)
        elif typ == 5:
            vals = [
                struct.unpack(bo + "II", raw[8 * j : 8 * j + 8])[0]
                for j in range(n)
            ]
        else:
            vals = list(raw)
        tags[tag] = vals
    return tags


def _packbits(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < expect and i < len(data):
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("PackBits repeat byte missing")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: noop
    if len(out) < expect:
        raise ValueError("PackBits strip truncated")
    return bytes(out[:expect])


def _lzw(data: bytes, expect: int) -> bytes:
    """TIFF-flavor LZW (spec §13): MSB-first bit packing, 9-bit start,
    Clear=256 / EOI=257, and the EARLY code-width change (width grows
    when the table reaches 2^w - 1, one code before GIF would)."""
    clear, eoi = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    while len(out) < expect:
        if bitpos + width > total:
            raise ValueError("TIFF LZW strip truncated")
        v = 0
        for i in range(width):
            v = (v << 1) | (
                (data[(bitpos + i) >> 3] >> (7 - ((bitpos + i) & 7))) & 1
            )
        bitpos += width
        if v == clear:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if v == eoi:
            break
        if prev is None:
            if v >= clear:
                raise ValueError("TIFF LZW code out of range")
            entry = table[v]
        else:
            if v < len(table):
                entry = table[v]
            elif v == len(table):
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError("TIFF LZW code out of range")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        # early change: grow width when the NEXT code would not fit
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
    if len(out) < expect:
        raise ValueError("TIFF LZW strip truncated")
    return bytes(out[:expect])


@corrupt_guard("TIFF")
def tiff_decode(payload: bytes) -> dict:
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload (bad byte-order header)")
    tags = _read_ifd(payload, bo)

    def one(tag: int, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    compression = one(259, 1)
    photometric = one(262)
    spp = one(277, 1)
    bps = tags.get(258, [1] * spp)
    planar = one(284, 1)
    predictor = one(317, 1)
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF needs Pillow (stripped only)")
    if planar != 1:
        raise NotImplementedError("planar TIFF needs Pillow (chunky only)")
    if compression not in (1, 5, 32773):
        raise NotImplementedError(
            f"TIFF compression {compression} (JPEG/deflate/CCITT) needs "
            "Pillow; stdlib path covers none/LZW/PackBits"
        )
    if any(b != 8 for b in bps):
        raise NotImplementedError(
            f"{bps}-bit TIFF samples need Pillow (stdlib path is 8-bit)"
        )
    if photometric not in (0, 1, 2, 3):
        raise NotImplementedError(
            f"TIFF photometric {photometric} (CMYK/YCbCr/...) needs Pillow"
        )
    if photometric == 2 and spp not in (3, 4):
        raise ValueError(f"RGB TIFF with {spp} samples per pixel")
    if photometric in (0, 1, 3) and spp != 1:
        raise NotImplementedError(
            "extra samples on gray/palette TIFF need Pillow"
        )

    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF strip tables missing or inconsistent")
    rows_per_strip = one(278, h)
    row_bytes = w * spp
    raw = bytearray()
    remaining_rows = h
    for off, cnt in zip(offsets, counts):
        strip = payload[off : off + cnt]
        if len(strip) != cnt:
            raise ValueError("TIFF strip overruns payload")
        n_rows = min(rows_per_strip, remaining_rows)
        expect = n_rows * row_bytes
        if compression == 1:
            if len(strip) < expect:
                raise ValueError("TIFF strip truncated")
            raw += strip[:expect]
        elif compression == 32773:
            raw += _packbits(strip, expect)
        else:
            raw += _lzw(strip, expect)
        remaining_rows -= n_rows
    if remaining_rows > 0:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")

    if predictor == 2:  # horizontal differencing, per row per sample
        for y in range(h):
            base = y * row_bytes
            for x in range(spp, row_bytes):
                raw[base + x] = (raw[base + x] + raw[base + x - spp]) & 0xFF
    elif predictor != 1:
        raise NotImplementedError(f"TIFF predictor {predictor} needs Pillow")

    if photometric == 0:  # WhiteIsZero: invert to the BlackIsZero contract
        raw = bytearray(255 - b for b in raw)
    if photometric == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("palette TIFF missing a 3x256 ColorMap")
        # 16-bit colormap channels scale to 8-bit
        lut = [
            bytes(
                (cmap[plane * 256 + i] >> 8) & 0xFF for plane in range(3)
            )
            for i in range(256)
        ]
        raw = bytearray(b"".join(lut[i] for i in raw))
        spp = 3

    return {
        "width": w,
        "height": h,
        "channels": spp,
        "pixels": bytes(raw),
    }
