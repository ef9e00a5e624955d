"""Round-trip tests for the stdlib/numpy baseline-JPEG decoder
(`operators/jpeg.py`) against the test-side reference encoder
(`tests/jpeg_ref.py`, T.81 annex K tables).  No Spark session and no
external codec: the encoder exists precisely so the decoder is
exercisable in this codec-less container."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from proyecto_gasto_publico_etl_per__spark.operators import multimodal  # noqa: E402
from proyecto_gasto_publico_etl_per__spark.operators.jpeg import (  # noqa: E402
    jpeg_decode,
)
from jpeg_ref import jpeg_encode  # noqa: E402


def _gradient(h: int, w: int, ch: int) -> bytes:
    """Smooth 2-D gradient — the friendly case for DCT quantization, so
    round-trip error stays near the per-coefficient bound."""
    y, x = np.mgrid[0:h, 0:w]
    base = (x * 5 + y * 3) % 200 + 20
    if ch == 1:
        return base.astype(np.uint8).tobytes()
    img = np.stack(
        [base, np.flipud(base), np.fliplr(base)][:ch], axis=-1
    )
    return img.astype(np.uint8).tobytes()


def _maxerr(a: bytes, b: bytes) -> int:
    x = np.frombuffer(a, np.uint8).astype(np.int64)
    y = np.frombuffer(b, np.uint8).astype(np.int64)
    return int(np.abs(x - y).max())


def test_grayscale_roundtrip():
    px = _gradient(24, 32, 1)
    d = jpeg_decode(jpeg_encode(px, 32, 24, 1, quality=95))
    assert (d["width"], d["height"], d["channels"]) == (32, 24, 1)
    assert len(d["pixels"]) == 24 * 32
    assert _maxerr(px, d["pixels"]) <= 8


def test_flat_grayscale_is_near_exact():
    """A flat block is DC-only: the entire round-trip error is one DC
    quantization rounding — ≤ 1 gray level at quality 90."""
    px = bytes([200] * (16 * 16))
    d = jpeg_decode(jpeg_encode(px, 16, 16, 1, quality=90))
    assert _maxerr(px, d["pixels"]) <= 1


def test_rgb_444_roundtrip():
    px = _gradient(16, 24, 3)
    d = jpeg_decode(jpeg_encode(px, 24, 16, 3, quality=95))
    assert (d["width"], d["height"], d["channels"]) == (24, 16, 3)
    assert len(d["pixels"]) == 16 * 24 * 3
    # color transform + quantization: a few levels on a smooth ramp
    assert _maxerr(px, d["pixels"]) <= 12


def test_rgb_420_odd_dimensions():
    """4:2:0 with non-multiple-of-16 dims exercises MCU padding, the
    2×2 chroma upsample, and the final crop."""
    px = _gradient(13, 21, 3)
    d = jpeg_decode(
        jpeg_encode(px, 21, 13, 3, quality=95, subsample_420=True)
    )
    assert (d["width"], d["height"], d["channels"]) == (21, 13, 3)
    assert len(d["pixels"]) == 13 * 21 * 3
    # chroma is box-averaged 2×2 then replicated: looser bound, but the
    # luma-dominated budget keeps a smooth ramp close
    assert _maxerr(px, d["pixels"]) <= 24


def test_restart_intervals_do_not_change_pixels():
    """DRI only re-segments the entropy stream (predictor resets +
    bitstream realignment) — decoded pixels must be byte-identical to
    the unsegmented encoding of the same quantized coefficients."""
    px = _gradient(32, 48, 3)
    plain = jpeg_decode(jpeg_encode(px, 48, 32, 3, quality=85))
    rst = jpeg_decode(
        jpeg_encode(px, 48, 32, 3, quality=85, restart_interval=2)
    )
    assert plain["pixels"] == rst["pixels"]


def test_unsupported_sof_raises_not_implemented():
    # SOI + minimal SOF9 (arithmetic-coded) header: the explicit
    # unsupported-format guard (progressive SOF2 decodes for real now)
    payload = (
        b"\xff\xd8"
        + b"\xff\xc9"
        + (11 + 3).to_bytes(2, "big")
        + bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="SOF"):
        jpeg_decode(payload)


def test_truncated_jpeg_raises_value_error():
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff\xe0junk")
    with pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg at all")


def test_decode_image_dispatches_jpeg():
    """multimodal.decode_image routes JPEG magic to the stdlib decoder
    (when Pillow is absent) with the same output contract as PNG."""
    px = _gradient(8, 8, 3)
    d = multimodal.decode_image(jpeg_encode(px, 8, 8, 3, quality=95))
    assert (d["width"], d["height"], d["channels"]) == (8, 8, 3)
    assert _maxerr(px, d["pixels"]) <= 12


# --- property tests: the decoder holds over the geometry/knob space ---------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    ch=st.sampled_from([1, 3]),
    quality=st.integers(70, 98),
    sub420=st.booleans(),
    dri=st.sampled_from([0, 1, 3]),
)
def test_roundtrip_property(w, h, ch, quality, sub420, dri):
    """Any geometry (including 1-pixel edges and non-multiple-of-8/16
    dims), either colorspace, any quality in the sane band, with or
    without 4:2:0 and restart intervals: decode succeeds, the shape
    contract holds exactly, and a SMOOTH image round-trips within a
    quantization-scaled error bound."""
    if sub420 and ch == 1:
        sub420 = False  # subsampling is a chroma concept
    # a wrap-free BOUNDED-SLOPE ramp: _gradient's modulo seam is a hard
    # edge that legitimately rings at low quality, and normalizing the
    # ramp by (w-1) makes tiny images maximally non-smooth (at w=2 the
    # step is 150/px and 4:2:0's single chroma sample legitimately
    # loses ~half of it) — fixed ≤3/px slope keeps the premise honest
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 3 + yy * 2 + 20).astype(np.uint8)
    if ch == 1:
        px = base.tobytes()
    else:
        px = np.stack([base, 255 - base, base // 2 + 40], axis=-1).tobytes()
    out = jpeg_decode(
        jpeg_encode(
            px, w, h, ch, quality=quality, subsample_420=sub420,
            restart_interval=dri,
        )
    )
    assert (out["width"], out["height"], out["channels"]) == (w, h, ch)
    assert len(out["pixels"]) == w * h * ch
    # error budget: DC quant step dominates on a smooth ramp; chroma
    # subsampling adds the box-average/replicate delta on color planes
    budget = 3 + 800 // quality + (30 if sub420 else 0) + (
        8 if ch == 3 else 0
    )
    assert _maxerr(px, out["pixels"]) <= budget


def test_grayscale_with_declared_sampling_factors_is_noninterleaved():
    """T.81 A.2.2 regression: a single-component scan is raster-order
    one-block MCUs regardless of SOF sampling factors (a grayscale
    JPEG stripped from a 4:2:0 color source keeps 2x2 factors).  The
    decode must be byte-identical to the 1x1 declaration — before the
    fix it consumed blocks in 2x2-MCU order and scrambled pixels."""
    px = _gradient(24, 32, 1)
    plain = jpeg_decode(jpeg_encode(px, 32, 24, 1, quality=92))
    fac22 = jpeg_decode(
        jpeg_encode(px, 32, 24, 1, quality=92, gray_hv=(2, 2))
    )
    assert fac22["pixels"] == plain["pixels"]
    # odd dims: the block-count mismatch used to desync the stream
    px2 = _gradient(13, 21, 1)
    d = jpeg_decode(jpeg_encode(px2, 21, 13, 1, quality=92, gray_hv=(2, 2)))
    assert (d["width"], d["height"]) == (21, 13)
    assert _maxerr(px2, d["pixels"]) <= 10


# --- progressive (SOF2) ------------------------------------------------------

from jpeg_ref import jpeg_encode_progressive  # noqa: E402


@pytest.mark.parametrize(
    "w,h,ch,sub420",
    [(32, 24, 1, False), (24, 16, 3, False), (21, 13, 3, True)],
)
def test_progressive_matches_baseline_pixels(w, h, ch, sub420):
    """Progressive and baseline encodes share the exact same quantized
    coefficients, so once every successive-approximation script ends at
    Al=0 the decodes must be PIXEL-IDENTICAL — spectral selection, DC
    two's-complement refinement, and the AC correction-bit protocol all
    reconstruct the full coefficients."""
    px = _gradient(h, w, ch)
    base = jpeg_decode(
        jpeg_encode(px, w, h, ch, quality=85, subsample_420=sub420)
    )
    prog = jpeg_decode(
        jpeg_encode_progressive(
            px, w, h, ch, quality=85, subsample_420=sub420
        )
    )
    assert (prog["width"], prog["height"], prog["channels"]) == (w, h, ch)
    assert prog["pixels"] == base["pixels"]


def test_progressive_spectral_selection_only():
    """A script with NO successive approximation (Ah=Al=0 everywhere,
    bands split 1-5 / 6-63) — the multi-scan accumulation alone."""
    px = _gradient(16, 16, 1)
    script = [
        ("dc_first", None, 0, 0, 0, 0),
        ("ac_first", 0, 1, 5, 0, 0),
        ("ac_first", 0, 6, 63, 0, 0),
    ]
    base = jpeg_decode(jpeg_encode(px, 16, 16, 1, quality=85))
    prog = jpeg_decode(
        jpeg_encode_progressive(px, 16, 16, 1, quality=85, script=script)
    )
    assert prog["pixels"] == base["pixels"]


def test_progressive_deep_successive_approximation():
    """Three AC refinement levels (Al 3→2→1→0) and two DC levels on a
    busy image: every refinement bit must land, including ZRL runs over
    zero-history positions and correction bits inside EOB skips."""
    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(24, 24), dtype=np.uint8).tobytes()
    script = [
        ("dc_first", None, 0, 0, 0, 1),
        ("ac_first", 0, 1, 63, 0, 3),
        ("ac_refine", 0, 1, 63, 3, 2),
        ("ac_refine", 0, 1, 63, 2, 1),
        ("ac_refine", 0, 1, 63, 1, 0),
        ("dc_refine", None, 0, 0, 1, 0),
    ]
    base = jpeg_decode(jpeg_encode(px, 24, 24, 1, quality=75))
    prog = jpeg_decode(
        jpeg_encode_progressive(px, 24, 24, 1, quality=75, script=script)
    )
    assert prog["pixels"] == base["pixels"]


def test_progressive_decode_image_dispatch():
    px = _gradient(8, 8, 3)
    d = multimodal.decode_image(
        jpeg_encode_progressive(px, 8, 8, 3, quality=95)
    )
    assert (d["width"], d["height"], d["channels"]) == (8, 8, 3)
    assert _maxerr(px, d["pixels"]) <= 12


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 33),
    h=st.integers(1, 33),
    ch=st.sampled_from([1, 3]),
    quality=st.integers(70, 95),
    sub420=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_progressive_equals_baseline_property(w, h, ch, quality, sub420, seed):
    """Identity, not tolerance: for ANY image (random noise included),
    geometry, and quality, the progressive decode equals the baseline
    decode byte-for-byte — both encode the same quantized coefficients,
    so any divergence is a real multi-scan reconstruction bug."""
    if sub420 and ch == 1:
        sub420 = False
    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8).tobytes()
    base = jpeg_decode(
        jpeg_encode(px, w, h, ch, quality=quality, subsample_420=sub420)
    )
    prog = jpeg_decode(
        jpeg_encode_progressive(
            px, w, h, ch, quality=quality, subsample_420=sub420
        )
    )
    assert prog["pixels"] == base["pixels"]


def _sparse(h: int, w: int) -> bytes:
    """Mostly-flat image with a few isolated features: most blocks have
    an all-zero AC band, so cross-block EOB runs actually form."""
    img = np.full((h, w), 128, np.uint8)
    for i in range(0, h, 19):
        for j in range(0, w, 23):
            img[i, j] = 250
    return img.tobytes()


def test_progressive_cross_block_eob_runs_match_baseline():
    """True EOBn runs (libjpeg's real shape — the annex-K tables can't
    even express them, so this uses a custom DHT): first AND refinement
    scans accumulate runs across blocks, with run-carried correction
    bits, and still reconstruct the exact baseline pixels."""
    for w, h in ((64, 48), (41, 27)):
        px = _sparse(h, w)
        base = jpeg_decode(jpeg_encode(px, w, h, 1, quality=85))
        prog = jpeg_decode(
            jpeg_encode_progressive(px, w, h, 1, quality=85, eob_runs=True)
        )
        assert prog["pixels"] == base["pixels"], (w, h)


def test_progressive_restart_intervals_match_baseline():
    """Per-scan restart markers: DC predictor and EOB-run resets at
    interval boundaries, with the run flushed BEFORE each RST."""
    px = _sparse(48, 64)
    base = jpeg_decode(jpeg_encode(px, 64, 48, 1, quality=85))
    for eob in (False, True):
        prog = jpeg_decode(
            jpeg_encode_progressive(
                px, 64, 48, 1, quality=85, eob_runs=eob,
                restart_interval=3,
            )
        )
        assert prog["pixels"] == base["pixels"], f"eob_runs={eob}"


def test_progressive_color_eob_runs_and_restarts():
    px = _gradient(32, 48, 3)
    base = jpeg_decode(jpeg_encode(px, 48, 32, 3, quality=85))
    prog = jpeg_decode(
        jpeg_encode_progressive(
            px, 48, 32, 3, quality=85, eob_runs=True, restart_interval=2
        )
    )
    assert prog["pixels"] == base["pixels"]


@settings(max_examples=12, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 40),
    quality=st.integers(70, 95),
    dri=st.sampled_from([0, 1, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_progressive_eob_runs_property(w, h, quality, dri, seed):
    """EOB-run + restart identity over random sparse images (random
    dot positions create irregular run lengths and mid-run restarts)."""
    rng = np.random.RandomState(seed)
    img = np.full((h, w), 100, np.uint8)
    for _ in range(4):
        img[rng.randint(h), rng.randint(w)] = rng.randint(200, 256)
    px = img.tobytes()
    base = jpeg_decode(jpeg_encode(px, w, h, 1, quality=quality))
    prog = jpeg_decode(
        jpeg_encode_progressive(
            px, w, h, 1, quality=quality, eob_runs=True,
            restart_interval=dri,
        )
    )
    assert prog["pixels"] == base["pixels"]
