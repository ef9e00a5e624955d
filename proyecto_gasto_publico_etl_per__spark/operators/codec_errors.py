"""Typed error boundary for the stdlib codec lane (round 11).

The decode contract promised to bulk ingest: a malformed payload raises
``ValueError`` (corrupt stream) and an unsupported-but-valid feature
raises ``NotImplementedError`` — nothing else.  Inside a pure parser
the low-level exception classes below can ONLY arise from malformed
input (an index or key that valid data could never produce), so the
public entry points re-raise them as the ValueError the contract
promises, keeping the original exception chained for triage.  Seeded
mutation fuzzing (tests/test_codec_fuzz.py) is the gate that keeps
this true as decoders grow.

The kept-codec rule, stated once for the lane: a stdlib codec is kept
only while it is both (1) verifiable in the container — its tables are
in the stream or algorithmic, so a test-side writer can round-trip it
with no spec data and no external decoder — and (2) worth its lines
to this engine's scope.  PNG (``multimodal._png_decode``), netpbm and
TGA (``simple_images``) are what remains.  JPEG, GIF, TIFF and BMP
passed (1) but were retired on (2): the MEF spending ETL reads no
images and no declared query, CLI command or bench entry decoded them.
Every format outside the kept set raises ``NotImplementedError``
without Pillow."""

from __future__ import annotations

import functools
import struct
import zlib

#: exception classes that only malformed input can produce in a parser
_CORRUPT = (IndexError, KeyError, struct.error, zlib.error, OverflowError)


def corrupt_guard(fmt: str):
    """Decorator: re-raise parser-internal failures as the contract's
    ValueError, tagged with the format name."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except _CORRUPT as exc:
                raise ValueError(
                    f"corrupt {fmt} stream: {type(exc).__name__}: {exc}"
                ) from exc

        return wrapped

    return deco
