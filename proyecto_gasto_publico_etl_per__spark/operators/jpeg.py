"""JPEG decode in numpy + stdlib — no Pillow required.

Covers ITU-T T.81 baseline sequential DCT (SOF0, plus SOF1
extended-sequential with 8-bit precision), progressive (SOF2), AND
lossless sequential (SOF3, round 11): marker walk, Huffman entropy
decode with restart intervals, multi-scan coefficient accumulation for
progressive — spectral selection bands, successive approximation for
DC (two's-complement bit refinement) and AC (the G.1.2.3
correction-bit protocol with EOB runs) — dequantize, batch 8×8 IDCT
(numpy einsum), integer-ratio chroma upsampling, JFIF YCbCr→RGB; for
lossless, Annex-H predictive DPCM with exact reconstruction.
Arithmetic coding, hierarchical, 12-bit, and CMYK payloads raise
``NotImplementedError`` with a pointer to Pillow — same contract as
the stdlib PNG path in ``multimodal._png_decode``.  (Lossless and
baseline are decodable HERE because every entropy table is carried IN
the stream: a stdlib codec is kept only when its tables are in the
stream or algorithmic.)

Like the PNG path, this runs per-row inside an Arrow batch on the
executor: the per-block Huffman loop is pure Python (bounded by batch
sizing and thumbnail-scale payloads), while the O(pixels) math — IDCT,
upsampling, color transform — is vectorized numpy.

Reference surface parity: the reference engine has no multimodal
operators at all; this extends the training-data-pipeline lane
(SURVEY.md §2 extension rows), where real corpora are mostly JPEG.
"""

from __future__ import annotations
from .codec_errors import corrupt_guard

import struct
from typing import Any

import numpy as np

#: zigzag scan order: ZIGZAG[k] = natural (row-major) index of the k-th
#: zigzag-ordered coefficient (T.81 figure 5)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II basis ``C[u, x]``; IDCT of block F is
    ``C.T @ F @ C`` (the separable T.81 annex A transform)."""
    x = np.arange(8, dtype=np.float64)
    c = 0.5 * np.cos((2.0 * x[None, :] + 1.0) * x[:, None] * np.pi / 16.0)
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c


_C = _dct_matrix()


def _build_huffman(counts: bytes, symbols: bytes) -> dict:
    """Canonical Huffman decode table: (code_length, code) → symbol
    (T.81 annex C code assignment)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _Bits:
    """MSB-first bit reader over a destuffed entropy-coded segment.
    Reads past the end return 0 — the final EOB's padding bits."""

    __slots__ = ("d", "i", "b")

    def __init__(self, d: bytes) -> None:
        self.d = d
        self.i = 0
        self.b = 0

    def read_bit(self) -> int:
        if self.i >= len(self.d):
            return 0
        bit = (self.d[self.i] >> (7 - self.b)) & 1
        self.b += 1
        if self.b == 8:
            self.b = 0
            self.i += 1
        return bit

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def extend(self, s: int) -> int:
        """T.81 F.2.2.1 sign extension: an s-bit magnitude whose top bit
        is 0 encodes a negative value."""
        v = self.receive(s)
        return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v


def _huff_decode(bits: _Bits, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _destuff_split(data: bytes) -> tuple[list[bytes], int]:
    """Remove 0xFF00 byte stuffing and split on RSTn markers: each
    returned part is one restart interval's bitstream.  Also returns
    the index of the terminating marker so a multi-scan (progressive)
    caller can resume the segment walk after the entropy data."""
    parts: list[bytes] = []
    cur = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                parts.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # next true marker — end of scan
        cur.append(b)
        i += 1
    parts.append(bytes(cur))
    return parts, i


def _decode_block(
    bits: _Bits, dc_table: dict, ac_table: dict
) -> np.ndarray:
    """One 8×8 block's quantized coefficients in ZIGZAG order (DC diff
    NOT yet accumulated — caller owns the predictor)."""
    coef = np.zeros(64, dtype=np.int64)
    s = _huff_decode(bits, dc_table)
    coef[0] = bits.extend(s) if s else 0
    k = 1
    while k < 64:
        rs = _huff_decode(bits, ac_table)
        r, size = rs >> 4, rs & 0x0F
        if size == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        coef[k] = bits.extend(size)
        k += 1
    return coef


@corrupt_guard("jpeg")
def jpeg_decode(payload: bytes) -> dict[str, Any]:
    """Decode a baseline, extended-sequential, or PROGRESSIVE JPEG to
    ``{width, height, channels, pixels}`` (row-major interleaved 8-bit
    bytes — same contract as ``multimodal._png_decode``).  Grayscale
    (1 component) and JFIF YCbCr (3 components, any integer-ratio
    subsampling incl. 4:2:0 and 4:2:2) are supported; progressive
    streams accumulate coefficients across scans and assemble once at
    EOI."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → table
    frame = None
    restart_interval = 0
    planes_done = None
    grids = None  # progressive: per-comp coefficient store
    pos = 2
    n = len(payload)
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at byte {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte
            pos -= 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RST: no body
            continue
        (ln,) = struct.unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(
                        seg[i : i + 64], dtype=np.uint8
                    ).astype(np.int64)
                    i += 64
                else:
                    qt[tq] = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
            # baseline / sequential / progressive / LOSSLESS sequential
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit JPEG needs Pillow (stdlib path is 8-bit)"
                )
            height, width = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {
                "w": width,
                "h": height,
                "comps": comps,
                "progressive": marker == 0xC2,
                "lossless": marker == 0xC3,
            }
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0x{marker:02X} (arithmetic/hierarchical) "
                "needs Pillow; stdlib path covers baseline, extended "
                "sequential, progressive, and lossless (SOF0/SOF1/SOF2/SOF3)"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = seg[i + 1 : i + 17]
                nsym = sum(counts)
                symbols = seg[i + 17 : i + 17 + nsym]
                huff[(tc, th)] = _build_huffman(counts, symbols)
                i += 17 + nsym
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if frame.get("lossless"):
                scan_tabs = {}
                for c in range(ns):
                    cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                    scan_tabs[cs] = tda >> 4  # DC-class table id only
                predictor = seg[1 + 2 * ns]  # Ss = predictor selector
                pt = seg[3 + 2 * ns] & 0x0F  # Al = point transform
                planes_done = _decode_lossless_scan(
                    payload, pos, frame, scan_tabs, huff,
                    predictor, pt, restart_interval,
                )
                break  # single scan, then EOI
            if frame["progressive"]:
                scan_comps = []
                for c in range(ns):
                    cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                    scan_comps.append((cs, tda >> 4, tda & 0x0F))
                ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
                if grids is None:
                    grids = _init_grids(frame)
                parts, used = _destuff_split(payload[pos:])
                _decode_progressive_scan(
                    parts, frame, grids, scan_comps, huff,
                    ss, se, ahal >> 4, ahal & 0x0F, restart_interval,
                )
                pos += used
                continue  # more scans follow until EOI
            if ns != len(frame["comps"]):
                raise NotImplementedError(
                    "non-interleaved multi-scan baseline JPEG needs Pillow"
                )
            scan_tabs = {}
            for c in range(ns):
                cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                scan_tabs[cs] = (tda >> 4, tda & 0x0F)
            planes_done = _decode_scan(
                payload, pos, frame, scan_tabs, qt, huff, restart_interval
            )
            break  # baseline: nothing after the single scan but EOI
    if frame is not None and frame.get("progressive") and grids is not None:
        planes_done = _assemble_planes(frame, grids, qt)
    if frame is None or planes_done is None:
        raise ValueError("JPEG missing SOF/SOS")
    if frame.get("lossless"):
        return _lossless_to_pixels(frame, planes_done)
    return _to_pixels(frame, planes_done)


def _decode_scan(
    payload: bytes,
    pos: int,
    frame: dict,
    scan_tabs: dict,
    qt: dict,
    huff: dict,
    restart_interval: int,
) -> dict[int, np.ndarray]:
    """Entropy-decode the baseline scan into the per-component
    coefficient store, then assemble planes — geometry and assembly are
    shared with the progressive path (``_geometry`` owns the T.81
    §A.2.2 single-component normalization, ``_assemble_planes`` the
    dequantize/IDCT/upsample/crop), so the two decode modes cannot
    drift apart."""
    geo = _geometry(frame)
    grids = _init_grids(frame)
    parts, _ = _destuff_split(payload[pos:])
    cids = [c["id"] for c in frame["comps"]]
    dc_pred = {cid: 0 for cid in cids}
    part_idx = 0
    bits = _Bits(parts[0])
    for m in range(geo["mcux"] * geo["mcuy"]):
        if restart_interval and m and m % restart_interval == 0:
            part_idx += 1
            if part_idx >= len(parts):
                raise ValueError("JPEG truncated: missing restart interval")
            bits = _Bits(parts[part_idx])
            dc_pred = {cid: 0 for cid in cids}
        my, mx = divmod(m, geo["mcux"])
        for cid in cids:
            g = geo["comps"][cid]
            td, ta = scan_tabs[cid]
            for by in range(g["v"]):
                for bx in range(g["h"]):
                    zz = _decode_block(bits, huff[(0, td)], huff[(1, ta)])
                    dc_pred[cid] += int(zz[0])
                    zz[0] = dc_pred[cid]
                    grids[cid][my * g["v"] + by, mx * g["h"] + bx] = zz
    return _assemble_planes(frame, grids, qt)


def _to_pixels(frame: dict, planes: dict[int, np.ndarray]) -> dict[str, Any]:
    comps = frame["comps"]
    if len(comps) == 1:
        gray = np.clip(np.round(planes[comps[0]["id"]]), 0, 255)
        return {
            "width": frame["w"],
            "height": frame["h"],
            "channels": 1,
            "pixels": gray.astype(np.uint8).tobytes(),
        }
    if len(comps) == 3:
        y = planes[comps[0]["id"]]
        cb = planes[comps[1]["id"]] - 128.0
        cr = planes[comps[2]["id"]] - 128.0
        # JFIF / ITU-R BT.601 full-range inverse transform
        rgb = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=-1,
        )
        out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return {
            "width": frame["w"],
            "height": frame["h"],
            "channels": 3,
            "pixels": out.tobytes(),
        }
    raise NotImplementedError(
        f"{len(comps)}-component JPEG (CMYK/unknown) needs Pillow"
    )


# --- lossless (SOF3) machinery ------------------------------------------------


def _decode_lossless_scan(
    payload: bytes,
    pos: int,
    frame: dict,
    scan_tabs: dict[int, int],
    huff: dict,
    predictor: int,
    pt: int,
    restart_interval: int,
) -> dict[int, np.ndarray]:
    """T.81 lossless sequential (SOF3) scan decode: per-sample DPCM with
    the Ss-selected predictor (Annex H), Huffman-coded difference
    categories (the DC table format; SSSS=16 encodes a bare +32768),
    16-bit modulo arithmetic, and the Al point transform re-scale.

    First-line / first-sample rules (H.1.2.2): the first sample of the
    scan predicts from ``1 << (P-1-Pt)``; the rest of the first line
    predicts from Ra; the first sample of every other line from Rb.
    Restarts are supported at line boundaries (the layout real lossless
    writers emit): each restart interval re-enters the scan-start state,
    so no sample references anything before the marker — restart
    intervals that split a line need Pillow.

    Only 1×1 sampling is decoded (lossless is a raster DPCM; subsampled
    lossless is essentially unseen in the wild and needs Pillow).
    3-component output is returned WITHOUT a color transform — T.81
    lossless defines none, components pass through as stored
    (``_lossless_to_pixels``)."""
    comps = frame["comps"]
    if any(c["h"] != 1 or c["v"] != 1 for c in comps):
        raise NotImplementedError("subsampled lossless JPEG needs Pillow")
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless JPEG predictor Ss={predictor} invalid")
    w, h = frame["w"], frame["h"]
    if restart_interval and restart_interval % w != 0:
        raise NotImplementedError(
            "lossless JPEG restart interval that splits a line needs Pillow"
        )
    default = 1 << (8 - 1 - pt)
    parts, _used = _destuff_split(payload[pos:])
    tables = {}
    for c in comps:
        if c["id"] not in scan_tabs:
            # a per-component multi-scan SOF3 layout is spec-VALID
            # (some DNG writers emit it) — unsupported, not corrupt,
            # same contract as the baseline non-interleaved guard
            raise NotImplementedError(
                "non-interleaved multi-scan lossless JPEG needs Pillow"
            )
        tables[c["id"]] = huff[(0, scan_tabs[c["id"]])]
    planes = {
        c["id"]: np.zeros((h, w), dtype=np.int64) for c in comps
    }
    rows_per_part = (restart_interval // w) if restart_interval else h
    part_idx = -1
    bits = None
    for y in range(h):
        if y % rows_per_part == 0:
            part_idx += 1
            if part_idx >= len(parts):
                raise ValueError("lossless JPEG truncated at a restart")
            bits = _Bits(parts[part_idx])
            fresh = True  # scan-start state: this row predicts like line 0
        for x in range(w):
            for c in comps:
                plane = planes[c["id"]]
                if fresh:
                    px = default if x == 0 else int(plane[y, x - 1])
                elif x == 0:
                    px = int(plane[y - 1, 0])
                else:
                    ra = int(plane[y, x - 1])
                    rb = int(plane[y - 1, x])
                    rc = int(plane[y - 1, x - 1])
                    if predictor == 1:
                        px = ra
                    elif predictor == 2:
                        px = rb
                    elif predictor == 3:
                        px = rc
                    elif predictor == 4:
                        px = ra + rb - rc
                    elif predictor == 5:
                        px = ra + ((rb - rc) >> 1)
                    elif predictor == 6:
                        px = rb + ((ra - rc) >> 1)
                    else:
                        px = (ra + rb) >> 1
                s = _huff_decode(bits, tables[c["id"]])
                if s == 0:
                    diff = 0
                elif s == 16:
                    diff = 32768
                else:
                    diff = bits.extend(s)
                plane[y, x] = (px + diff) & 0xFFFF
        fresh = False
    if pt:
        for cid in planes:
            planes[cid] = planes[cid] << pt
    return planes


def _lossless_to_pixels(frame: dict, planes: dict[int, np.ndarray]) -> dict:
    """Assemble lossless planes: NO color transform (T.81 lossless
    defines none — 3-component streams pass through as stored, which in
    practice is RGB), clip to the 8-bit contract, interleave."""
    comps = frame["comps"]
    if len(comps) not in (1, 3):
        raise NotImplementedError(
            f"{len(comps)}-component lossless JPEG needs Pillow"
        )
    stack = np.stack(
        [np.clip(planes[c["id"]], 0, 255) for c in comps], axis=-1
    )
    return {
        "width": frame["w"],
        "height": frame["h"],
        "channels": len(comps),
        "pixels": stack.astype(np.uint8).tobytes(),
    }


# --- progressive (SOF2) machinery --------------------------------------------


def _geometry(frame: dict) -> dict:
    """Shared block-grid geometry.  Per T.81 §A.2.2 a single-component
    frame is effectively factor 1×1 (its only scan is non-interleaved);
    per component: the MCU-padded grid (bw, bh — what DC interleaved
    scans cover) and the raster grid (cbx, cby — what non-interleaved
    scans cover, ceil(component dims / 8))."""
    comps = frame["comps"]
    if len(comps) == 1:
        comps = [dict(comps[0], h=1, v=1)]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    per_comp = {}
    for c in comps:
        cw = (frame["w"] * c["h"] + hmax - 1) // hmax
        ch_ = (frame["h"] * c["v"] + vmax - 1) // vmax
        per_comp[c["id"]] = {
            "h": c["h"], "v": c["v"], "tq": c["tq"],
            "bw": mcux * c["h"], "bh": mcuy * c["v"],
            "cbx": (cw + 7) // 8, "cby": (ch_ + 7) // 8,
        }
    return {
        "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
        "comps": per_comp,
    }


def _init_grids(frame: dict) -> dict[int, np.ndarray]:
    geo = _geometry(frame)
    return {
        cid: np.zeros((g["bh"], g["bw"], 64), dtype=np.int64)
        for cid, g in geo["comps"].items()
    }


def _refine_nonzero(bits: _Bits, coef: np.ndarray, k: int, p1: int) -> None:
    """One AC-refinement correction bit for a nonzero-history
    coefficient: a 1 appends this scan's magnitude bit (guarded so a
    malformed stream cannot double-apply)."""
    if bits.read_bit():
        v = int(coef[k])
        if (abs(v) & p1) == 0:
            coef[k] = v + p1 if v > 0 else v - p1


def _ac_first_band(
    bits: _Bits, act: dict, coef: np.ndarray, ss: int, se: int,
    al: int, eobrun: int,
) -> int:
    """First AC scan of a band for one block (T.81 G.1.2.2): run/size
    over the band with EOBn run codes; values land shifted by Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(bits, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            return (1 << r) - 1 + (bits.receive(r) if r else 0)
        k += r
        if k > se:
            raise ValueError("progressive AC run past band end")
        coef[k] = bits.extend(s) << al
        k += 1
    return 0


def _ac_refine_band(
    bits: _Bits, act: dict, coef: np.ndarray, ss: int, se: int,
    al: int, eobrun: int,
) -> int:
    """AC refinement scan for one block (T.81 G.1.2.3 / the
    decode_mcu_AC_refine protocol): newly-nonzero coefficients arrive
    as ±1·2^Al with runs counted over ZERO-history positions only;
    every nonzero-history position passed — including during EOB-run
    skips — carries one correction bit."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(bits, act)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + (bits.receive(r) if r else 0)
                    break  # remainder handled by the EOB-run path below
                # ZRL: r stays 15 → skip 16 zero-history positions
            elif s == 1:
                newval = p1 if bits.read_bit() else -p1
            else:
                raise ValueError("progressive AC refinement size != 1")
            while k <= se:
                if coef[k]:
                    _refine_nonzero(bits, coef, k, p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k]:
                _refine_nonzero(bits, coef, k, p1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(
    parts: list[bytes],
    frame: dict,
    grids: dict[int, np.ndarray],
    scan_comps: list[tuple[int, int, int]],
    huff: dict,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
) -> None:
    """One progressive scan over the coefficient store.  DC scans
    (ss == 0) may be interleaved (MCU order); AC scans are always
    single-component, raster order over the component's own grid.
    Restart intervals reset DC predictors and the EOB run."""
    geo = _geometry(frame)
    bits = _Bits(parts[0])
    part_idx = 0

    def next_part(i: int) -> _Bits:
        if i >= len(parts):  # same contract as the baseline path
            raise ValueError("JPEG truncated: missing restart interval")
        return _Bits(parts[i])

    def table(tc: int, th: int) -> dict:
        t = huff.get((tc, th))
        if t is None:
            raise ValueError(
                f"JPEG scan references undefined Huffman table "
                f"(class {tc}, id {th})"
            )
        return t

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan with se != 0")
        dc_pred = {cs: 0 for cs, _, _ in scan_comps}
        if len(scan_comps) > 1:
            units = geo["mcux"] * geo["mcuy"]
        else:
            g = geo["comps"][scan_comps[0][0]]
            units = g["cby"] * g["cbx"]
        for u in range(units):
            if restart_interval and u and u % restart_interval == 0:
                part_idx += 1
                bits = next_part(part_idx)
                dc_pred = {cs: 0 for cs, _, _ in scan_comps}
            for cs, td, _ta in scan_comps:
                g = geo["comps"][cs]
                if len(scan_comps) > 1:
                    my, mx = divmod(u, geo["mcux"])
                    blocks = [
                        (my * g["v"] + by, mx * g["h"] + bx)
                        for by in range(g["v"])
                        for bx in range(g["h"])
                    ]
                else:
                    blocks = [divmod(u, g["cbx"])]
                for by, bx in blocks:
                    coef = grids[cs][by, bx]
                    if ah == 0:
                        s = _huff_decode(bits, table(0, td))
                        diff = bits.extend(s) if s else 0
                        dc_pred[cs] += diff
                        coef[0] = dc_pred[cs] << al
                    elif bits.read_bit():
                        # two's-complement successive approximation:
                        # python ints OR correctly for negatives too
                        coef[0] = int(coef[0]) | (1 << al)
        return
    # AC scan: exactly one component, raster over ITS grid
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cs, _td, ta = scan_comps[0]
    g = geo["comps"][cs]
    act = table(1, ta)
    eobrun = 0
    u = 0
    for by in range(g["cby"]):
        for bx in range(g["cbx"]):
            if restart_interval and u and u % restart_interval == 0:
                part_idx += 1
                bits = next_part(part_idx)
                eobrun = 0
            coef = grids[cs][by, bx]
            if ah == 0:
                eobrun = _ac_first_band(bits, act, coef, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine_band(bits, act, coef, ss, se, al, eobrun)
            u += 1


def _assemble_planes(
    frame: dict, grids: dict[int, np.ndarray], qt: dict
) -> dict[int, np.ndarray]:
    """Coefficient store → per-component planes (the progressive twin
    of the baseline scan's inline assembly): dequantize + un-zigzag the
    whole grid, one batched IDCT, geometric paste, integer-ratio
    upsample, crop — all numpy."""
    geo = _geometry(frame)
    planes: dict[int, np.ndarray] = {}
    for cid, g in geo["comps"].items():
        q = qt[g["tq"]]
        zz = grids[cid].reshape(-1, 64)
        nat = np.zeros_like(zz)
        nat[:, ZIGZAG] = zz * q[None, :]
        f = nat.reshape(-1, 8, 8).astype(np.float64)
        pix = np.einsum("ux,nuv,vy->nxy", _C, f, _C) + 128.0
        plane = (
            pix.reshape(g["bh"], g["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(g["bh"] * 8, g["bw"] * 8)
        )
        ry, rx = geo["vmax"] // g["v"], geo["hmax"] // g["h"]
        if ry * g["v"] != geo["vmax"] or rx * g["h"] != geo["hmax"]:
            raise NotImplementedError(
                "non-integer JPEG chroma subsampling ratio needs Pillow"
            )
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes[cid] = plane[: frame["h"], : frame["w"]]
    return planes
