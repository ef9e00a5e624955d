"""Multimodal (image) column plumbing.

Media are opaque ``binary`` columns with typed metadata; decode and
feature extraction run as Arrow-batched pandas functions over
``mapInPandas`` — the one place this engine crosses into Python,
because byte-level media decoding is genuinely inexpressible in Spark
SQL.  The Spark-side plumbing (schemas, batch iteration, partition
parallelism) is real and tested.  Image decoding is REAL where a codec
path exists: Pillow when importable, else the stdlib paths kept under
the rule in ``operators/codec_errors.py`` — full static PNG here (all
color types incl. palette+tRNS, depths 1-16, Adam7 interlace) and
netpbm/TGA (``operators/simple_images.py``).  Any other format
without Pillow (JPEG, GIF, TIFF, BMP, WebP, ...) raises
``NotImplementedError``.  Audio and video rows carry no decoder: they
keep the fake features.  The deterministic md5 fake remains the
correctness-oracle path — DuckDB can reproduce it, real pixel math it
can't.

Scale notes: media bytes never pass through the driver; each Arrow batch
is decoded inside its executor task.  Keep batches small via
``spark.sql.execution.arrow.maxRecordsPerBatch`` when rows carry megabyte
blobs, and store blobs in their own column family (parquet column) so
metadata-only queries never read them (column pruning).
"""

from __future__ import annotations
from .codec_errors import corrupt_guard

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of a multimodal asset record: opaque payload + typed metadata.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_md5", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _unfilter(
    raw: bytes, n_rows: int, stride: int, bpp: int, offset: int = 0
) -> tuple[bytearray, int]:
    """Reverse the five per-scanline PNG filter types over ``n_rows``
    rows of ``stride`` bytes starting at ``offset`` in the inflated
    stream (each row is prefixed by its filter-type byte).  ``bpp`` is
    the filter's left-neighbor distance in BYTES (max(1, channels·depth
    // 8) per spec, so sub-byte depths use 1).  Returns (pixel bytes,
    next offset) — shared by the sequential and per-Adam7-pass paths."""
    out = bytearray()
    prev = bytearray(stride)
    pos = offset
    for _ in range(n_rows):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += line
        prev = line
    return out, pos


def _rows_to_samples(
    rows: bytes, n_rows: int, width: int, channels: int, depth: int,
    full16: bool = False,
):
    """Unfiltered scanline bytes → uint8 sample array [n_rows, width,
    channels].  Sub-byte depths unpack MSB-first; 16-bit keeps the high
    byte (the defined 16→8 downsample) unless ``full16`` asks for the
    exact uint16 values (needed to match a 16-bit tRNS key before
    downsampling); indices (palette) pass through unscaled — the caller
    maps them through the PLTE."""
    import numpy as np

    stride = (width * channels * depth + 7) // 8
    arr = np.frombuffer(rows, dtype=np.uint8).reshape(n_rows, stride)
    if depth == 8:
        return arr[:, : width * channels].reshape(n_rows, width, channels)
    if depth == 16:
        a16 = arr.reshape(n_rows, -1)[:, : width * channels * 2]
        pairs = a16.reshape(n_rows, width * channels, 2)
        if full16:
            full = (
                pairs[:, :, 0].astype(np.uint16) << 8
            ) | pairs[:, :, 1].astype(np.uint16)
            return full.reshape(n_rows, width, channels)
        return pairs[:, :, 0].reshape(n_rows, width, channels)
    bits = np.unpackbits(arr, axis=1)[:, : width * depth]
    groups = bits.reshape(n_rows, width, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (groups * weights[None, None, :]).sum(axis=2).astype(np.uint8)
    return vals.reshape(n_rows, width, 1)


#: Adam7 pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


@corrupt_guard("PNG")
def _png_decode(payload: bytes) -> dict[str, Any]:
    """Pure-stdlib/numpy PNG decoder covering the full STATIC format:
    gray / gray+alpha / RGB / RGBA / palette, bit depths 1/2/4/8/16
    (16-bit downsamples to the high byte — the contract is 8-bit
    pixels), Adam7 interlace, and palette transparency (tRNS → RGBA).
    Chunk walk → concat IDAT → zlib inflate → per-scanline unfilter
    (``_unfilter``, per Adam7 pass when interlaced) → bit unpack →
    palette map.  Animated PNG's extra frames (acTL/fdAT) are ignored
    per spec — the static IDAT image decodes.  Runs per-row inside an
    Arrow batch on the executor; payloads this path targets are
    thumbnails/tiles, so the O(pixels) Python unfilter loop is bounded
    by batch sizing, not data scale."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr, plte, trns = 8, b"", None, None, None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # len + type + data + crc
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"bad PNG color type {ctype}")
    if depth not in (1, 2, 4, 8, 16) or (
        ctype in (2, 4, 6) and depth < 8
    ):
        raise ValueError(f"invalid PNG depth {depth} for color type {ctype}")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    raw = zlib.decompress(idat)
    bpp = max(1, channels * depth // 8)

    # tRNS on gray/truecolor names ONE sample value as fully
    # transparent; the 16-bit key must be matched at full precision
    # BEFORE the high-byte downsample or opaque pixels sharing the high
    # byte would wrongly vanish
    full16 = depth == 16 and trns is not None and ctype in (0, 2)
    sample_dtype = np.uint16 if full16 else np.uint8
    if interlace == 0:
        stride = (w * channels * depth + 7) // 8
        rows, _ = _unfilter(raw, h, stride, bpp)
        img = _rows_to_samples(bytes(rows), h, w, channels, depth, full16)
    elif interlace == 1:  # Adam7
        img = np.zeros((h, w, channels), dtype=sample_dtype)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = (pw * channels * depth + 7) // 8
            rows, off = _unfilter(raw, ph, pstride, bpp, off)
            img[y0::dy, x0::dx] = _rows_to_samples(
                bytes(rows), ph, pw, channels, depth, full16
            )
    else:
        raise ValueError(f"bad PNG interlace method {interlace}")

    if ctype == 3:  # palette indices → RGB(A)
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            img = np.concatenate([rgb, alpha[idx][..., None]], axis=-1)
            channels = 4
        else:
            img = rgb
            channels = 3
    else:
        trns_mask = None
        if trns is not None and ctype in (0, 2):
            # key samples are big-endian u16 in SOURCE depth units —
            # compare before any scaling/downsampling
            key = np.frombuffer(trns, dtype=">u2").astype(np.int64)
            if len(key) != channels:
                raise ValueError("PNG tRNS length mismatch")
            trns_mask = (
                img.astype(np.int64) == key[None, None, :]
            ).all(axis=-1)
        if full16:
            img = (img >> 8).astype(np.uint8)
        elif depth < 8:  # scale sub-byte gray to full 8-bit range
            img = (
                img.astype(np.uint16) * 255 // ((1 << depth) - 1)
            ).astype(np.uint8)
        if trns_mask is not None:
            alpha = np.where(trns_mask, 0, 255).astype(np.uint8)
            img = np.concatenate([img, alpha[..., None]], axis=-1)
            channels += 1

    return {
        "width": w,
        "height": h,
        "channels": channels,
        "pixels": img.tobytes(),
    }


def decode_image(payload: bytes) -> dict[str, Any]:
    """Decode an image payload to ``{width, height, channels, pixels}``
    (``pixels`` = row-major interleaved 8-bit bytes).

    Pillow when importable (any format it knows); otherwise the
    stdlib paths kept under the rule in ``operators/codec_errors.py``:
    full static PNG above, netpbm and TGA in
    ``operators/simple_images.py``.  Raises ``NotImplementedError`` for
    every other format (JPEG, GIF, TIFF, BMP, WebP, ...) without
    Pillow."""
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        if payload[:8] == _PNG_MAGIC:
            return _png_decode(payload)
        if payload[:1] == b"P" and payload[1:2] in b"123456":
            from .simple_images import pnm_decode

            return pnm_decode(payload)
        if _looks_like_tga(payload):
            from .simple_images import tga_decode

            return tga_decode(payload)
        raise NotImplementedError(
            "image decoding beyond PNG, netpbm and TGA requires Pillow, "
            "which is not importable in this environment"
        ) from None
    img = Image.open(io.BytesIO(payload))
    if img.mode not in ("L", "LA", "RGB", "RGBA"):
        img = img.convert("RGBA")
    return {
        "width": img.width,
        "height": img.height,
        "channels": len(img.getbands()),
        "pixels": img.tobytes(),
    }


def _looks_like_tga(p: bytes) -> bool:
    """TGA has no magic — sniff only headers the stdlib decoder handles
    (uncolormapped type 2/3/10/11 at 8/24/32 bpp).  Checked LAST in the
    dispatch, after every real magic, so it can't shadow other
    formats."""
    return (
        len(p) >= 18
        and p[1] == 0
        and p[2] in (2, 3, 10, 11)
        and p[16] in (8, 24, 32)
    )


def image_features(payload: bytes, dim: int = 4) -> list[float]:
    """Real image features: [width, height, channels, mean/255, ...]
    padded with per-channel means (dim > 4) or truncated (dim < 4).
    Deterministic given the payload — usable as a pytest oracle.

    Each mean is an O(pixels) scan, so a slot's scan only runs when the
    slot survives the ``dim`` cut — at the default dim=4 no per-channel
    work happens."""
    d = decode_image(payload)
    px, ch = d["pixels"], d["channels"]
    mean = (sum(px) / len(px) / 255.0) if px and dim >= 4 else 0.0
    feats = [float(d["width"]), float(d["height"]), float(ch), mean]
    for c in range(min(ch, max(0, dim - 4))):
        plane = px[c::ch]  # per-channel means fill any remaining dims
        feats.append((sum(plane) / len(plane) / 255.0) if plane else 0.0)
    return (feats + [0.0] * dim)[:dim]


def fake_features(payload: bytes, dim: int = 4) -> list[float]:
    """Deterministic stand-in for a feature extractor: ``dim`` doubles
    derived from the md5 of the payload (same formula the DuckDB oracle
    can reproduce: byte i of md5 / 255)."""
    digest = hashlib.md5(payload).digest()
    return [digest[i] / 255.0 for i in range(dim)]


def extract_features(
    assets: DataFrame, dim: int = 4, decoder: str = "fake",
    strict: bool = False,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps whole partitions streaming through Python in
    Arrow batches — no per-row serialization, no driver collection.

    ``decoder="fake"`` (default): the deterministic md5 features — the
    DuckDB-reproducible correctness-oracle path.
    ``decoder="real"``: image rows actually decode — ``image_features``
    (Pillow or the stdlib image fallbacks); every other ``media_type``
    keeps the fake features so mixed-modality frames still pass through
    in one plan.

    A corpus-scale ingest must not abort on one corrupt/truncated/
    codec-less asset, so real-decode failures quarantine PER ROW by
    default: the row keeps its n_bytes/byte_md5 audit columns and gets
    NULL features (downstream filters on ``features IS NULL`` find the
    quarantined assets).  ``strict=True`` restores loud failure for
    pipelines that want one bad asset to stop the job.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"decoder must be 'fake' or 'real', got {decoder!r}")

    def featurize(media_type: str, payload: bytes | None) -> list | None:
        if payload is None:
            return None
        payload = bytes(payload)
        try:
            if decoder == "real" and media_type == "image":
                return image_features(payload, dim)
        except Exception:
            if strict:
                raise
            return None  # quarantined: bad payload degrades per-asset
        return fake_features(payload, dim)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.map(
                        lambda b: len(b) if b is not None else None
                    ),
                    "byte_md5": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                        if b is not None
                        else None
                    ),
                    "features": [
                        featurize(m, b)
                        for m, b in zip(pdf["media_type"], payloads)
                    ],
                }
            )

    return assets.mapInPandas(batches, FEATURE_SCHEMA)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload so the
    multimodal path can be exercised (and oracle-checked) on the synthetic
    ``documents`` table."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )
