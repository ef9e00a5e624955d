"""Windows BMP decode — pure stdlib (round 11).  BMP is pure structure
plus an algorithmic RLE with no spec tables, which is what the
kept-codec rule in ``codec_errors`` asks.  Covered: BITMAPINFOHEADER
(and the larger V4/V5 headers, which extend it compatibly) with 8-bit
palette, 24-bit BGR, and 32-bit BGRA pixels, uncompressed or RLE8, bottom-up and top-down row order,
4-byte row padding.  1/4-bit, RLE4, and BITFIELDS payloads raise loud
``NotImplementedError`` guards toward Pillow.

Output contract matches ``multimodal._png_decode``:
``{width, height, channels, pixels}`` row-major interleaved uint8.
"""

from __future__ import annotations
from .codec_errors import corrupt_guard

import struct


def _rle8(data: bytes, w: int, h: int) -> bytes:
    """BMP RLE8: (count, value) runs; escapes 0,0=EOL 0,1=EOB 0,2=delta
    (skipped pixels stay 0) and 0,n>=3 absolute runs (word-aligned)."""
    rows = [bytearray(w) for _ in range(h)]
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt:
            rows[y][x : x + cnt] = bytes([val]) * min(cnt, w - x)
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
            if y >= h:
                break
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if i + 1 >= n:
                raise ValueError("BMP RLE8 delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if y >= h:
                raise ValueError("BMP RLE8 delta leaves the image")
        else:  # absolute run of `val` literal pixels, word-aligned
            if i + val > n:
                raise ValueError("BMP RLE8 absolute run truncated")
            rows[y][x : x + val] = data[i : i + min(val, w - x)]
            x += val
            i += val + (val & 1)
        if x > w:
            raise ValueError("BMP RLE8 run overruns its row")
    return b"".join(bytes(r) for r in rows)


@corrupt_guard("BMP")
def bmp_decode(payload: bytes) -> dict:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    if len(payload) < 54:
        raise ValueError("BMP header truncated")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise NotImplementedError(
            f"BMP CORE header ({hdr_size} bytes) needs Pillow "
            "(INFO/V4/V5 headers only)"
        )
    w, h_signed = struct.unpack("<ii", payload[18:26])
    _planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    (clr_used,) = struct.unpack("<I", payload[46:50])
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0:
        raise ValueError("BMP with non-positive dimensions")
    if bpp not in (8, 24, 32):
        raise NotImplementedError(
            f"{bpp}-bit BMP needs Pillow (stdlib path is 8/24/32-bit)"
        )
    if compression not in (0, 1):
        raise NotImplementedError(
            f"BMP compression {compression} (RLE4/bitfields/embedded "
            "JPEG-PNG) needs Pillow"
        )
    if compression == 1 and bpp != 8:
        raise ValueError("BMP RLE8 requires 8-bit pixels")

    if bpp == 8:
        n_colors = clr_used or 256
        pal_off = 14 + hdr_size
        pal = payload[pal_off : pal_off + 4 * n_colors]
        if len(pal) < 4 * n_colors:
            raise ValueError("BMP palette truncated")
        lut = [pal[4 * i : 4 * i + 3][::-1] for i in range(n_colors)]  # BGR→RGB
        if compression == 1:
            # plausibility bound BEFORE allocating w*h rows: an RLE8
            # packet (2 bytes) emits at most 255 pixels, so a payload
            # this small can never legitimately fill the claimed
            # dimensions — a corrupt header must raise the contract's
            # ValueError, not a MemoryError from the allocation
            data = payload[data_off:]
            if w * h > 128 * max(1, len(data)):
                raise ValueError(
                    f"BMP RLE8 dimensions {w}x{h} implausible for "
                    f"{len(data)} data bytes"
                )
            idx = _rle8(data, w, h)
        else:
            stride = (w + 3) & ~3
            need = stride * h
            if len(payload) < data_off + need:
                raise ValueError("BMP pixel data truncated")
            idx = b"".join(
                payload[data_off + y * stride : data_off + y * stride + w]
                for y in range(h)
            )
        gray = all(c[0] == c[1] == c[2] for c in lut)
        if gray:
            rows = bytes(lut[i][0] for i in idx)
            channels = 1
        else:
            rows = b"".join(lut[i] for i in idx)
            channels = 3
    else:
        ch = bpp // 8
        stride = (w * ch + 3) & ~3
        need = stride * h
        if len(payload) < data_off + need:
            raise ValueError("BMP pixel data truncated")
        out = bytearray(w * h * ch)
        for y in range(h):
            row = payload[data_off + y * stride : data_off + y * stride + w * ch]
            base = y * w * ch
            for x in range(w):
                px = row[x * ch : (x + 1) * ch]
                o = base + x * ch
                out[o], out[o + 1], out[o + 2] = px[2], px[1], px[0]  # BGR→RGB
                if ch == 4:
                    out[o + 3] = px[3]
        rows = bytes(out)
        channels = ch

    if not top_down:  # bottom-up storage: flip to the top-down contract
        rb = w * channels
        rows = b"".join(
            rows[y * rb : (y + 1) * rb] for y in range(h - 1, -1, -1)
        )
    return {"width": w, "height": h, "channels": channels, "pixels": rows}
