"""Reference PNG ENCODER for round-trip tests.  Test-only: the package
side is the decoder (`operators/multimodal.py`); this writer exists so the
decoder can be exercised without an image codec."""

from __future__ import annotations

import struct
import zlib

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def png_encode(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Pure-stdlib PNG writer (8-bit gray/gray+A/RGB/RGBA, filter 0)."""
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
