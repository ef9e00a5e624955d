"""GIF decode in pure stdlib/numpy — no Pillow required.

Covers GIF87a/GIF89a: logical-screen + global/local color tables, LZW
decompression (LSB-first variable-width codes, dictionary growth to 12
bits, clear/end codes), row de-interlacing and Graphic Control
Extension transparency.  ``gif_decode`` returns the FIRST frame under
the ``_png_decode`` contract; later frames of an animation are parsed
but not decoded.

Like the other stdlib codec paths this runs per-row inside an Arrow
batch on the executor; the LZW loop is pure Python, bounded by batch
sizing and thumbnail-scale payloads, while palette mapping is numpy.
"""

from __future__ import annotations
from .codec_errors import corrupt_guard

import struct
from typing import Any

import numpy as np


def _subblocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a length-prefixed sub-block sequence (terminator
    0x00); returns (data, position past the terminator)."""
    out = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("GIF sub-blocks truncated")
        n = payload[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += payload[pos : pos + n]
        pos += n


def _lzw_decode(data: bytes, min_code: int, expect: int) -> list[int]:
    """GIF-flavor LZW: LSB-first bit packing, initial width
    ``min_code + 1``, clear/end codes, dictionary capped at 12 bits."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < expect:
        if bitpos + width > total_bits:
            raise ValueError("GIF LZW stream truncated")
        v = 0
        for i in range(width):
            v |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        if v == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code + 1
            prev = None
            continue
        if v == end:
            break
        if prev is None:
            # first code after a clear must be a literal root: the two
            # placeholder slots (clear/end already handled) and anything
            # past them are malformed here, not an IndexError
            if v >= clear:
                raise ValueError("GIF LZW code out of range")
            entry = table[v]
        else:
            if v < len(table):
                entry = table[v]
            elif v == len(table):
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                raise ValueError("GIF LZW code out of range")
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        prev = entry
    return out[:expect]


#: GIF interlace passes: (row_start, row_step)
_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _parse(payload: bytes) -> tuple[bytes | None, list[dict]]:
    """(global color table, image frames) of a GIF; each frame carries
    its size, local table, LZW data and GCE transparent index."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 7) + 1)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    frames: list[dict] = []
    gce: dict = {}
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = payload[pos + 1]
            subs, pos = _subblocks(payload, pos + 2)
            if label == 0xF9 and len(subs) >= 4:  # Graphic Control
                gce = {"transparent": subs[3] if subs[0] & 1 else None}
        elif b == 0x2C:  # image descriptor
            fw, fh = struct.unpack("<HH", payload[pos + 5 : pos + 9])
            p2 = payload[pos + 9]
            pos += 10
            lct = None
            if p2 & 0x80:
                n = 2 ** ((p2 & 7) + 1)
                lct = payload[pos : pos + 3 * n]
                pos += 3 * n
            min_code = payload[pos]
            data, pos = _subblocks(payload, pos + 1)
            frames.append(
                {
                    "w": fw, "h": fh,
                    "lct": lct, "interlace": bool(p2 & 0x40),
                    "min_code": min_code, "data": data,
                    "transparent": gce.get("transparent"),
                }
            )
            gce = {}
        else:
            raise ValueError(f"bad GIF block introducer 0x{b:02X}")
    if not frames:
        raise ValueError("GIF has no image data")
    return gct, frames


def _frame_indices(fr: dict) -> np.ndarray:
    idx = np.array(
        _lzw_decode(fr["data"], fr["min_code"], fr["w"] * fr["h"]),
        dtype=np.uint8,
    ).reshape(fr["h"], fr["w"])
    if fr["interlace"]:
        out = np.empty_like(idx)
        src = 0
        for start, step in _PASSES:
            n = len(range(start, fr["h"], step))
            out[start::step] = idx[src : src + n]
            src += n
        return out
    return idx


@corrupt_guard("GIF")
def gif_decode(payload: bytes) -> dict[str, Any]:
    """Decode the FIRST frame of a GIF to ``{width, height, channels,
    pixels}`` — the ``_png_decode``/``jpeg_decode`` contract.  A frame
    with a transparent index returns RGBA (alpha 0 on transparent
    pixels); otherwise RGB.  Frame geometry is the frame's own
    rectangle (single-image GIFs: the whole screen)."""
    gct, frames = _parse(payload)
    fr = frames[0]
    table = fr["lct"] or gct
    if table is None:
        raise ValueError("GIF frame has no color table")
    pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
    idx = _frame_indices(fr)
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("GIF color index out of range")
    rgb = pal[idx]
    if fr["transparent"] is not None:
        alpha = np.where(idx == fr["transparent"], 0, 255).astype(np.uint8)
        rgba = np.concatenate([rgb, alpha[..., None]], axis=-1)
        return {
            "width": fr["w"], "height": fr["h"], "channels": 4,
            "pixels": rgba.tobytes(),
        }
    return {
        "width": fr["w"], "height": fr["h"], "channels": 3,
        "pixels": rgb.tobytes(),
    }
