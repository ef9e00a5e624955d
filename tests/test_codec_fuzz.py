"""Codec robustness fuzz (round 11): the per-row quarantine contract in
bulk ingest (`extract_features`) catches exceptions,
but the DIRECT decode surfaces promise a typed error contract — a
malformed payload raises ValueError (corrupt) or NotImplementedError
(unsupported feature), NEVER IndexError / KeyError / struct.error /
ZeroDivisionError, which would make triage impossible and could mask
decoder bugs.  Seeded truncations + byte flips of VALID payloads are
the highest-yield mutation family: they keep magics intact so the
mutation reaches deep decode logic instead of the magic check."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from proyecto_gasto_publico_etl_per__spark.operators import (  # noqa: E402
    multimodal,
)
from png_ref import png_encode  # noqa: E402

#: the typed contract: anything else escaping a decoder is a bug
ALLOWED = (ValueError, NotImplementedError)


def _mutations(payload: bytes, rng: np.random.Generator, n_flips: int = 40):
    """Truncations at structural-ish boundaries + seeded byte flips,
    magic bytes preserved so mutations reach the decode logic."""
    outs = []
    for frac in (0.15, 0.4, 0.6, 0.85, 0.98):
        outs.append(payload[: max(4, int(len(payload) * frac))])
    for _ in range(n_flips):
        b = bytearray(payload)
        at = int(rng.integers(12, max(13, len(b))))
        if at < len(b):
            b[at] ^= int(rng.integers(1, 256))
        outs.append(bytes(b))
    return outs


def _assert_contract(decode, payloads):
    for i, p in enumerate(payloads):
        try:
            decode(p)
        except ALLOWED:
            pass
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"mutation {i}: {type(exc).__name__} escaped the "
                f"ValueError/NotImplementedError contract: {exc}"
            ) from exc


def _pixels(w=12, h=10, ch=3, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, ch), dtype=np.uint8).tobytes()


def test_fuzz_png():
    src = _pixels()
    payload = png_encode(12, 10, 3, src)
    _assert_contract(
        multimodal._png_decode,
        _mutations(payload, np.random.default_rng(1)),
    )


def test_fuzz_pnm_and_tga():
    from test_simple_images import pnm_write, tga_write

    from proyecto_gasto_publico_etl_per__spark.operators import (
        simple_images,
    )

    src = _pixels(seed=14)
    rng = np.random.default_rng(15)
    for payload in (
        pnm_write(src, 12, 10, 3),
        pnm_write(src, 12, 10, 3, ascii_mode=True),
        tga_write(src, 12, 10, 3, rle=True),
    ):
        decode = (
            simple_images.pnm_decode
            if payload[:1] == b"P"
            else simple_images.tga_decode
        )
        _assert_contract(decode, _mutations(payload, rng))
