"""Netpbm (PGM/PPM/PBM) and TGA decode — pure stdlib (round 11).

Both formats are pure structure (ASCII or fixed headers + raw/RLE
samples — no entropy tables), so they pass the codec lane's kept-codec
rule (``operators/codec_errors.py``).  Netpbm is common in ML/vision
datasets (P2/P3 ASCII and P4/P5/P6 binary, 8- and 16-bit maxvals);
TGA in legacy game/graphics corpora (types 2/3 uncompressed and 10/11
RLE true-color/grayscale, bottom-up or top-down origins, 24/32-bit
BGR(A) or 8-bit gray).  Colormapped TGA (types 1/9) raises the loud
guard.

Output matches ``multimodal._png_decode``:
``{width, height, channels, pixels}`` row-major interleaved uint8.
"""

from __future__ import annotations

import struct

from .codec_errors import corrupt_guard

_PNM_CHANNELS = {b"P1": 1, b"P2": 1, b"P3": 3, b"P4": 1, b"P5": 1, b"P6": 3}


def _pnm_tokens(
    payload: bytes, n: int, pos: int, single_digit: bool = False
) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII integers starting at
    ``pos``, skipping ``#`` comments; returns (values, next position).
    ``single_digit`` treats each digit character as one sample — P1
    rasters may omit whitespace between samples per the PBM spec."""
    vals: list[int] = []
    cur = b""
    while len(vals) < n and pos < len(payload):
        c = payload[pos : pos + 1]
        pos += 1
        if c == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        if c.isspace():
            if cur:
                vals.append(int(cur))
                cur = b""
            continue
        if not c.isdigit():
            raise ValueError(f"netpbm: non-numeric header byte {c!r}")
        if single_digit:
            vals.append(int(c))
        else:
            cur += c
    if cur and len(vals) < n:
        vals.append(int(cur))
    if len(vals) < n:
        raise ValueError("netpbm header truncated")
    return vals, pos


@corrupt_guard("netpbm")
def pnm_decode(payload: bytes) -> dict:
    """Decode P1-P6 netpbm.  maxval=65535 downsamples via the same
    high-byte convention as the PNG path; other maxvals (255, and
    sub-range 10/12-bit sensor dumps) rescale exactly as
    ``v*255//maxval``.  P1/P4 bitmaps expand to 0/255 gray (1 = black
    per the PBM convention); P1 digits may be unseparated."""
    magic = payload[:2]
    if magic not in _PNM_CHANNELS:
        raise ValueError("not a netpbm payload (bad magic)")
    ch = _PNM_CHANNELS[magic]
    bitmap = magic in (b"P1", b"P4")
    n_hdr = 2 if bitmap else 3
    (dims, pos) = _pnm_tokens(payload, n_hdr, 2)
    w, h = dims[0], dims[1]
    maxval = 1 if bitmap else dims[2]
    if w < 1 or h < 1 or not 1 <= maxval <= 65535:
        raise ValueError("netpbm header out of range")
    n = w * h * ch
    if magic in (b"P1", b"P2", b"P3"):  # ASCII variants
        vals, _ = _pnm_tokens(payload, n, pos, single_digit=bitmap)
        if any(v > maxval for v in vals):
            raise ValueError("netpbm sample exceeds maxval")
        if bitmap:
            px = bytes(0 if v else 255 for v in vals)
        elif maxval == 65535:
            px = bytes(v >> 8 for v in vals)
        else:  # exact rescale — high-byte is only right at maxval 65535
            px = bytes(v * 255 // maxval for v in vals)
        return {"width": w, "height": h, "channels": ch, "pixels": px}
    # binary variants: exactly ONE whitespace byte after the header
    data = payload[pos:]
    if magic == b"P4":  # packed bits, rows byte-aligned
        stride = (w + 7) // 8
        if len(data) < stride * h:
            raise ValueError("PBM raster truncated")
        out = bytearray()
        for y in range(h):
            row = data[y * stride : (y + 1) * stride]
            for x in range(w):
                bit = (row[x >> 3] >> (7 - (x & 7))) & 1
                out.append(0 if bit else 255)
        return {"width": w, "height": h, "channels": 1, "pixels": bytes(out)}
    width = 2 if maxval > 255 else 1
    if len(data) < n * width:
        raise ValueError("netpbm raster truncated")
    if width == 1:
        if maxval == 255:
            px = bytes(data[:n])
        else:
            px = bytes(b * 255 // maxval for b in data[:n])
    elif maxval == 65535:  # high-byte downsample (PNG convention)
        px = bytes(data[2 * i] for i in range(n))
    else:  # 16-bit big-endian, sub-full-range maxval (10/12-bit dumps):
        # exact rescale — the high-byte shortcut maps e.g. maxval=1023
        # sample 1023 to 3 instead of 255
        v16 = [(data[2 * i] << 8) | data[2 * i + 1] for i in range(n)]
        if any(v > maxval for v in v16):
            raise ValueError("netpbm sample exceeds maxval")
        px = bytes(v * 255 // maxval for v in v16)
    return {"width": w, "height": h, "channels": ch, "pixels": px}


@corrupt_guard("TGA")
def tga_decode(payload: bytes) -> dict:
    """Decode TGA types 2/3 (uncompressed true-color/gray) and 10/11
    (RLE): 8-bit gray, 24-bit BGR, 32-bit BGRA, any origin corner
    (descriptor bit 5 = top/bottom, bit 4 = right-to-left mirror).
    Colormapped (1/9) and 15/16-bit payloads raise the loud guard."""
    if len(payload) < 18:
        raise ValueError("TGA header truncated")
    (
        id_len, cmap_type, img_type,
        _cm_first, _cm_len, _cm_bits,
        _x0, _y0, w, h, bpp, desc,
    ) = struct.unpack("<BBBHHBHHHHBB", payload[:18])
    if img_type not in (2, 3, 10, 11):
        raise NotImplementedError(
            f"TGA image type {img_type} (colormapped/none) needs Pillow"
        )
    if cmap_type != 0:
        raise NotImplementedError("colormapped TGA needs Pillow")
    if bpp not in (8, 24, 32) or (img_type in (3, 11) and bpp != 8):
        raise NotImplementedError(
            f"{bpp}-bit TGA needs Pillow (stdlib path is 8/24/32)"
        )
    if w < 1 or h < 1:
        raise ValueError("TGA with non-positive dimensions")
    ch = bpp // 8
    data = payload[18 + id_len :]
    need = w * h * ch
    if img_type >= 10:  # RLE packets
        out = bytearray()
        i = 0
        while len(out) < need:
            if i >= len(data):
                raise ValueError("TGA RLE truncated")
            hdr = data[i]
            i += 1
            count = (hdr & 0x7F) + 1
            if hdr & 0x80:  # run packet: one pixel repeated
                px = data[i : i + ch]
                if len(px) < ch:
                    raise ValueError("TGA RLE run truncated")
                out += px * count
                i += ch
            else:  # raw packet
                raw = data[i : i + count * ch]
                if len(raw) < count * ch:
                    raise ValueError("TGA RLE raw packet truncated")
                out += raw
                i += count * ch
        raw_px = bytes(out[:need])
    else:
        if len(data) < need:
            raise ValueError("TGA pixel data truncated")
        raw_px = data[:need]
    # BGR(A) → RGB(A)
    if ch >= 3:
        b = bytearray(raw_px)
        b[0::ch], b[2::ch] = raw_px[2::ch], raw_px[0::ch]
        raw_px = bytes(b)
    # origin: bit 5 of the descriptor set = top-left (our contract);
    # clear = bottom-left → flip rows
    rb = w * ch
    if not desc & 0x20:
        raw_px = b"".join(
            raw_px[y * rb : (y + 1) * rb] for y in range(h - 1, -1, -1)
        )
    if desc & 0x10:  # bit 4 = right-to-left x-origin: mirror each row
        rows = []
        for y in range(h):
            row = raw_px[y * rb : (y + 1) * rb]
            rows.append(
                b"".join(row[x : x + ch] for x in range(rb - ch, -1, -ch))
            )
        raw_px = b"".join(rows)
    return {"width": w, "height": h, "channels": ch, "pixels": raw_px}
