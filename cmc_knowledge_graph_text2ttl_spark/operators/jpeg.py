"""Baseline + progressive JPEG codec, pure Python + numpy.

Completes the multimodal decode story next to the stdlib PNG/GIF/WAV
codecs: marker parse (SOI/DQT/SOF0/SOF2/DHT/DRI/SOS/RSTn/EOI, APPn/COM
skipped), Huffman entropy decode with byte un-stuffing, dequantize +
inverse zigzag, separable float IDCT, per-component nearest
upsampling, and JFIF YCbCr→RGB with explicit round-half-up — every
step deterministic, so the same bytes decode to the same pixels on
every executor.

Scope: baseline sequential DCT (SOF0) and progressive DCT (SOF2 — the
majority coding of real web corpora: spectral selection, successive
approximation, DC/AC first + refinement scans, EOB runs, interleaved
DC scans), 8-bit, 1/3/4 components (Adobe APP14 CMYK + YCCK), any
H/V sampling factors up to 2
(4:4:4, 4:2:2, 4:2:0). Arithmetic coding, hierarchical and 12-bit
raise ``NotImplementedError``.

The encoder is the deterministic fixture counterpart: it writes
baseline JPEGs from ALREADY-QUANTIZED coefficient blocks using the
JPEG Annex K example Huffman tables, which lets tests verify the full
entropy/zigzag/dequant path against an independent IDCT, and lets the
gate use DC-only blocks whose decoded pixels are closed-form
(quantizer 8 → a solid block of exactly ``dc + 128``). The progressive
encoder emits a genuine 4-scan successive-approximation layout (DC
first Al=1 → DC refine → AC first Al=1 with EOB runs → AC refine) over
a fixed-length Huffman table (Annex K has no EOBn>1 symbols), and is
verified bit-exact against the baseline decode of the same blocks.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

__all__ = [
    "decode_jpeg",
    "encode_jpeg_blocks",
    "encode_jpeg_cmyk",
    "ZIGZAG",
]

# zigzag scan order: index i in the stream → position ZIGZAG[i] (row*8+col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# JPEG Annex K example tables (the spec's own public constants)
_DC_LUM_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_SYMBOLS = list(range(12))
_AC_LUM_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_SYMBOLS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT basis matrix: C[k, x] = c(k)/2 * cos((2x+1)kπ/16)
_C = np.zeros((8, 8))
for _k in range(8):
    for _x in range(8):
        _c = np.sqrt(0.5) if _k == 0 else 1.0
        _C[_k, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _k * np.pi / 16.0)


def _idct2(block: np.ndarray) -> np.ndarray:
    """2-D type-III DCT of one dequantized 8x8 coefficient block."""
    return _C.T @ block @ _C


def _build_huffman(counts: List[int], symbols: List[int]) -> Dict[Tuple[int, int], int]:
    """(bit-length, code) → symbol, canonical JPEG code assignment."""
    table: Dict[Tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huffman_codes(counts: List[int], symbols: List[int]) -> Dict[int, Tuple[int, int]]:
    """symbol → (code, bit-length), inverse of :func:`_build_huffman`."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_huffman(counts, symbols).items()
    }


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment; 0xFF00
    stuffing removed, RSTn markers surfaced to the caller."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.acc = 0
        self.nbits = 0

    def skip_restart(self) -> None:
        """Consume the RSTn marker bytes at the current byte position.

        Raises ValueError (not assert) so a malformed stream that declares
        a DRI interval but lacks the marker stays inside decode_jpeg's
        documented per-row error containment, and the check survives -O."""
        if self.pos + 1 >= len(self.data) or self.data[self.pos] != 0xFF:
            raise ValueError("expected RSTn marker at restart interval")
        if not 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            raise ValueError(
                f"expected RSTn marker, got 0xFF{self.data[self.pos + 1]:02X}"
            )
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _decode_symbol(br: _BitReader, table: Dict[Tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t-bit magnitude v to its signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes) -> Tuple[int, int, int, bytes]:
    """bytes → (width, height, channels, pixels row-major).

    All malformed-input failures surface as ``ValueError`` (truncated
    streams and missing tables would otherwise escape as IndexError/
    KeyError past the callers' per-row error containment and kill the
    whole Spark task instead of producing an error row)."""
    try:
        return _decode_jpeg_impl(data)
    except (IndexError, KeyError, struct.error) as ex:
        raise ValueError(
            f"corrupt JPEG stream: {type(ex).__name__}: {ex}"
        ) from ex


def _decode_jpeg_impl(data: bytes) -> Tuple[int, int, int, bytes]:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: Dict[int, List[int]] = {}
    huff: Dict[Tuple[int, int], Dict[Tuple[int, int], int]] = {}
    comps: List[dict] = []
    w = h = None
    restart_interval = 0
    progressive = False
    saw_scan = False
    adobe_transform = None
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker byte at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quantizers unsupported")
                vals = list(body[i + 1 : i + 65])
                table = [0] * 64
                for j, v in enumerate(vals):
                    table[ZIGZAG[j]] = v
                qt[tq] = table
                i += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if not 0 < w * h <= 64_000_000:
                # corrupt/adversarial SOF dims must not pre-allocate the
                # planes (np.zeros of 65535^2 would OOM the executor)
                raise ValueError(f"JPEG dimensions {w}x{h} out of range")
            for ci in range(ncomp):
                cid, hv, tq = body[6 + ci * 3 : 9 + ci * 3]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF 0x{marker:02X} unsupported (SOF0/SOF2 only)"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                n = sum(counts)
                symbols = list(body[i + 17 : i + 17 + n])
                huff[(tc, th)] = _build_huffman(counts, symbols)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe":  # APP14
            # color-transform byte: 0 = none (CMYK/RGB), 2 = YCCK
            adobe_transform = body[11] if len(body) >= 12 else None
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            scan_pos = pos + 2 + seglen
            if not progressive:
                ns = body[0]
                for ci in range(ns):
                    cid, tdta = body[1 + ci * 2], body[2 + ci * 2]
                    for c in comps:
                        if c["id"] == cid:
                            c["td"], c["ta"] = tdta >> 4, tdta & 0x0F
                return _decode_scan(
                    data, scan_pos, w, h, comps, qt, huff, restart_interval,
                    adobe_transform,
                )
            if not saw_scan:
                _alloc_progressive(comps, w, h)
                saw_scan = True
            pos = _decode_progressive_scan(
                data, scan_pos, body, w, h, comps, huff, restart_interval
            )
            continue
        pos += 2 + seglen
    if progressive and saw_scan:
        return _reconstruct_progressive(comps, qt, w, h, adobe_transform)
    raise ValueError("JPEG has no scan data")


def _decode_scan(data, pos, w, h, comps, qt, huff, restart_interval,
                 transform=None):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    for c in comps:
        bw = mcus_x * c["h"]
        bh = mcus_y * c["v"]
        c["plane"] = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        c["pred"] = 0
    br = _BitReader(data, pos)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.align()
                br.skip_restart()
                for c in comps:
                    c["pred"] = 0
            try:
                for c in comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            _decode_block(
                                br, c, qt[c["tq"]],
                                huff[(0, c["td"])], huff[(1, c["ta"])],
                                (my * c["v"] + by) * 8, (mx * c["h"] + bx) * 8,
                            )
            except _RestartMarker:
                raise ValueError("restart marker inside an MCU")
            mcu_count += 1
    return _finish_planes(comps, w, h, hmax, vmax, transform)


def _finish_planes(comps, w, h, hmax, vmax,
                   transform=None) -> Tuple[int, int, int, bytes]:
    """Upsample each component plane to full resolution, color-convert
    and pack — shared by the baseline and progressive paths.

    4-component images return CMYK samples AS STORED (the libjpeg
    convention — Adobe ink inversion is NOT undone): APP14 transform 2
    (YCCK) converts the first three planes through the YCbCr matrix and
    inverts, transform 0/absent packs the planes directly."""
    planes = []
    for c in comps:
        p = c["plane"]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(comps) == 1:
        gray = np.clip(np.floor(planes[0] + 128.5), 0, 255).astype(np.uint8)
        return (w, h, 1, gray.tobytes())
    if len(comps) == 4:
        if transform == 2:  # YCCK
            y, cb, cr = planes[0] + 128.0, planes[1], planes[2]
            chans = [
                255.0 - (y + 1.402 * cr),
                255.0 - (y - 0.344136 * cb - 0.714136 * cr),
                255.0 - (y + 1.772 * cb),
                planes[3] + 128.0,
            ]
        else:  # CMYK stored directly
            chans = [p + 128.0 for p in planes]
        out = np.stack(
            [np.clip(np.floor(x + 0.5), 0, 255) for x in chans], axis=-1
        ).astype(np.uint8)
        return (w, h, 4, out.tobytes())
    if len(comps) != 3:
        raise ValueError(f"JPEG with {len(comps)} components unsupported")
    y, cb, cr = planes[0] + 128.0, planes[1], planes[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack(
        [np.clip(np.floor(x + 0.5), 0, 255) for x in (r, g, b)], axis=-1
    ).astype(np.uint8)
    return (w, h, 3, rgb.tobytes())


def _decode_block(br, comp, q, dc_table, ac_table, oy, ox):
    coeffs = np.zeros(64, dtype=np.float64)
    t = _decode_symbol(br, dc_table)
    diff = _extend(br.read_bits(t), t) if t else 0
    comp["pred"] += diff
    coeffs[0] = comp["pred"] * q[0]
    k = 1
    while k < 64:
        sym = _decode_symbol(br, ac_table)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        k += run
        if k >= 64:
            raise ValueError("AC run past end of block")
        coeffs[ZIGZAG[k]] = _extend(br.read_bits(size), size) * q[ZIGZAG[k]]
        k += 1
    comp["plane"][oy : oy + 8, ox : ox + 8] = _idct2(coeffs.reshape(8, 8))


# ---------------------------------------------------------------------------
# Progressive (SOF2) decoding: coefficients accumulate across scans in
# integer per-block arrays; dequant + IDCT happen once at EOI.


def _alloc_progressive(comps: List[dict], w: int, h: int) -> None:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["bw"] = mcus_x * c["h"]  # padded block-grid (interleaved scans)
        c["bh"] = mcus_y * c["v"]
        # non-interleaved scans cover only the component's own extent
        c["bw1"] = (-(-w * c["h"] // hmax) + 7) // 8
        c["bh1"] = (-(-h * c["v"] // vmax) + 7) // 8
        c["coef"] = [[0] * 64 for _ in range(c["bw"] * c["bh"])]
        c["pred"] = 0


def _refine_nonzero(br: _BitReader, blk: List[int], z: int, bit: int) -> None:
    """One AC correction bit: append ``bit`` to an already-nonzero
    coefficient's magnitude when the stream says so (G.1.2.3)."""
    if br.read_bit():
        if (blk[z] & bit) == 0:
            blk[z] += bit if blk[z] >= 0 else -bit


def _dc_first(br, comp, blk, dc_table, al) -> None:
    t = _decode_symbol(br, dc_table)
    diff = _extend(br.read_bits(t), t) if t else 0
    comp["pred"] += diff
    blk[0] = comp["pred"] << al


def _dc_refine(br, blk, al) -> None:
    if br.read_bit():
        blk[0] |= 1 << al


def _ac_first(br, blk, ac_table, ss, se, al, eobrun) -> int:
    """First AC scan of a band: EOB runs, ZRL, values shifted by Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _decode_symbol(br, ac_table)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r < 15:  # EOBn: run of (1<<r)+bits blocks incl. this one
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                return eobrun
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("AC run past spectral band")
            blk[ZIGZAG[k]] = _extend(br.read_bits(s), s) << al
            k += 1
    return eobrun


def _ac_refine(br, blk, ac_table, ss, se, al, eobrun) -> int:
    """AC refinement scan (G.1.2.3): newly-significant ±(1<<Al)
    coefficients interleaved with correction bits for known ones."""
    bit = 1 << al
    k = ss
    if eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                _refine_nonzero(br, blk, z, bit)
            k += 1
        return eobrun - 1
    while k <= se:
        sym = _decode_symbol(br, ac_table)
        r, s = sym >> 4, sym & 0x0F
        val = 0
        if s == 0:
            if r < 15:  # EOBn — refine the rest, then cover more blocks
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                r = 64
            # else ZRL: skip 16 zero-history coefficients
        else:
            if s != 1:
                raise ValueError("bad newly-significant size in AC refinement")
            val = bit if br.read_bit() else -bit
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                _refine_nonzero(br, blk, z, bit)
            else:
                if r == 0:
                    break
                r -= 1
            k += 1
        if k <= se:
            if val != 0:
                blk[ZIGZAG[k]] = val
            k += 1
        if eobrun > 0:
            return eobrun
    return eobrun


def _decode_progressive_scan(
    data, pos, sos_body, w, h, comps, huff, restart_interval
) -> int:
    """One SOS of a progressive JPEG; returns the file offset of the
    next marker. Interleaved (ns>1) scans are DC-only per the spec; a
    non-interleaved scan walks the single component's own block grid."""
    ns = sos_body[0]
    scan_comps: List[dict] = []
    for ci in range(ns):
        cid, tdta = sos_body[1 + ci * 2], sos_body[2 + ci * 2]
        for c in comps:
            if c["id"] == cid:
                c["td"], c["ta"] = tdta >> 4, tdta & 0x0F
                scan_comps.append(c)
    if len(scan_comps) != ns:
        raise ValueError("SOS names an unknown component")
    ss, se, ahal = sos_body[1 + ns * 2 : 4 + ns * 2]
    ah, al = ahal >> 4, ahal & 0x0F
    if not (0 <= ss <= se <= 63):
        raise ValueError(f"bad spectral selection {ss}..{se}")
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    br = _BitReader(data, pos)
    eobrun = 0

    def restart() -> None:
        nonlocal eobrun
        br.align()
        br.skip_restart()
        for c in scan_comps:
            c["pred"] = 0
        eobrun = 0

    try:
        if ns > 1:  # interleaved DC scan over MCUs
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            count = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and count and count % restart_interval == 0:
                        restart()
                    for c in scan_comps:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                blk = c["coef"][
                                    (my * c["v"] + by) * c["bw"]
                                    + mx * c["h"] + bx
                                ]
                                if ah == 0:
                                    _dc_first(br, c, blk, huff[(0, c["td"])], al)
                                else:
                                    _dc_refine(br, blk, al)
                    count += 1
        else:
            # non-interleaved: the component's OWN block extent (bw1/bh1,
            # F.2.3) — MCU-grid padding blocks are never coded here
            c = scan_comps[0]
            count = 0
            for by in range(c["bh1"]):
                for bx in range(c["bw1"]):
                    if restart_interval and count and count % restart_interval == 0:
                        restart()
                    blk = c["coef"][by * c["bw"] + bx]
                    if ss == 0:
                        if ah == 0:
                            _dc_first(br, c, blk, huff[(0, c["td"])], al)
                        else:
                            _dc_refine(br, blk, al)
                    elif ah == 0:
                        eobrun = _ac_first(
                            br, blk, huff[(1, c["ta"])], ss, se, al, eobrun
                        )
                    else:
                        eobrun = _ac_refine(
                            br, blk, huff[(1, c["ta"])], ss, se, al, eobrun
                        )
                    count += 1
    except _RestartMarker:
        raise ValueError("restart marker at unexpected position in scan")
    # advance to the next marker (skip padding bits, stuffing, RSTn)
    p = br.pos
    n = len(data)
    while p + 1 < n:
        if data[p] == 0xFF and data[p + 1] != 0x00:
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    raise ValueError("progressive scan ran past end of file")


def _reconstruct_progressive(comps, qt, w, h,
                             transform=None) -> Tuple[int, int, int, bytes]:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        q = qt[c["tq"]]
        plane = np.zeros((c["bh"] * 8, c["bw"] * 8), dtype=np.float64)
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                blk = c["coef"][by * c["bw"] + bx]
                coeffs = np.array(
                    [blk[i] * q[i] for i in range(64)], dtype=np.float64
                )
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct2(
                    coeffs.reshape(8, 8)
                )
        c["plane"] = plane
    return _finish_planes(comps, w, h, hmax, vmax, transform)


# ---------------------------------------------------------------------------
# Fixture encoder: baseline JPEG from already-quantized coefficient blocks


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s per spec
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
        return bytes(self.buf)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _assemble_jpeg(
    width: int, height: int, q: List[int], comps_sof: bytes,
    sos_comps: bytes, scan: bytes, adobe_transform: Optional[int] = None,
) -> bytes:
    """Shared segment framing for all fixture encoders: DQT (zigzag,
    table 0) + SOF0 + the Annex K DHT pair + SOS + scan + EOI."""

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_q = bytes(q[ZIGZAG[i]] for i in range(64))
    ncomp = len(comps_sof) // 3
    app14 = b""
    if adobe_transform is not None:
        app14 = seg(
            0xEE, b"Adobe" + b"\x00\x64\x00\x00\x00\x00"
            + bytes([adobe_transform])
        )
    return (
        b"\xff\xd8"
        + app14
        + seg(0xDB, b"\x00" + zz_q)
        + seg(0xC0, struct.pack(">BHHB", 8, height, width, ncomp) + comps_sof)
        + seg(
            0xC4,
            b"\x00" + bytes(_DC_LUM_COUNTS) + bytes(_DC_LUM_SYMBOLS)
            + b"\x10" + bytes(_AC_LUM_COUNTS) + bytes(_AC_LUM_SYMBOLS),
        )
        + seg(0xDA, sos_comps)
        + scan
        + b"\xff\xd9"
    )


def _write_block(bwr: "_BitWriter", blk: List[int], pred: int,
                 dc_codes, ac_codes) -> int:
    """Entropy-code one quantized block; returns the new DC predictor."""
    diff = blk[0] - pred
    t = _category(diff)
    code, length = dc_codes[t]
    bwr.write(code, length)
    if t:
        mag = diff if diff >= 0 else diff + (1 << t) - 1
        bwr.write(mag & ((1 << t) - 1), t)
    run = 0
    for i in range(1, 64):
        v = blk[ZIGZAG[i]]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bwr.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_codes[(run << 4) | s]
        bwr.write(code, length)
        mag = v if v >= 0 else v + (1 << s) - 1
        bwr.write(mag & ((1 << s) - 1), s)
        run = 0
    if run > 0:
        # EOB only when trailing zeros remain — a coded coefficient 63
        # ends the block WITHOUT an EOB (decoders stop at k == 64 and
        # would misread an extra EOB as the next DC symbol)
        code, length = ac_codes[0x00]
        bwr.write(code, length)
    return blk[0]


def encode_jpeg_blocks(
    width: int,
    height: int,
    blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic grayscale baseline JPEG from quantized coefficient
    blocks (natural order, 64 ints each; blocks row-major over the
    ceil(w/8) × ceil(h/8) grid). Default quantizer is all-8s, so a
    DC-only block decodes to the solid value ``dc + 128`` exactly."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"need {bw * bh} blocks, got {len(blocks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _BitWriter()
    pred = 0
    for blk in blocks:
        pred = _write_block(bwr, blk, pred, dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q, b"\x01\x11\x00", b"\x01\x01\x00\x00\x3f\x00", scan
    )


def encode_jpeg_cmyk(
    width: int,
    height: int,
    blocks: List[List[List[int]]],
    quant: Optional[List[int]] = None,
    ycck: bool = False,
) -> bytes:
    """Deterministic 4-component 4:4:4 baseline JPEG (Adobe APP14):
    ``blocks`` is four per-component block lists; ``ycck=True`` marks
    the stored planes as YCCK (transform 2), else direct CMYK
    (transform 0) — exercising the decoder's 4-plane packing and the
    YCCK inversion path."""
    if len(blocks) != 4:
        raise ValueError("need exactly 4 component block lists")
    bw, bh = (width + 7) // 8, (height + 7) // 8
    for ci, blks in enumerate(blocks):
        if len(blks) != bw * bh:
            raise ValueError(f"component {ci}: need {bw * bh} blocks")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _BitWriter()
    preds = [0, 0, 0, 0]
    for i in range(bw * bh):
        for ci in range(4):
            preds[ci] = _write_block(bwr, blocks[ci][i], preds[ci], dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q,
        b"\x01\x11\x00\x02\x11\x00\x03\x11\x00\x04\x11\x00",
        b"\x04\x01\x00\x02\x00\x03\x00\x04\x00\x00\x3f\x00", scan,
        adobe_transform=2 if ycck else 0,
    )


# ---------------------------------------------------------------------------
# Progressive fixture encoders. Annex K has no EOBn>1 symbols, so these
# use a fixed-length table pair covering EOB0-14, ZRL and all (run, size
# <= 10) codes — any valid DHT works, the decoder reads it from the
# stream. The scan script is the classic 4-scan successive-approximation
# layout: DC first (Al=1) -> DC refine -> AC first (Al=1, EOB runs) ->
# AC refine (correction bits, libjpeg-style run buffering).

_PROG_DC_COUNTS = [0, 0, 0, 12] + [0] * 12  # 12 symbols, all length 4
_PROG_DC_SYMBOLS = list(range(12))
_PROG_AC_COUNTS = [0] * 7 + [176] + [0] * 8  # 176 symbols, all length 8
_PROG_AC_SYMBOLS = (
    [r << 4 for r in range(15)]  # EOB0..EOB14
    + [0xF0]  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)


def _sos_seg(comps: List[Tuple[int, int, int]], ss: int, se: int,
             ah: int, al: int) -> bytes:
    body = bytes([len(comps)])
    for cid, td, ta in comps:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return bytes([0xFF, 0xDA]) + struct.pack(">H", len(body) + 2) + body


def _write_dc_first_val(bwr, v: int, pred: int, dc_codes) -> int:
    diff = v - pred
    t = _category(diff)
    if t > 11:
        raise ValueError("DC difference too large for fixture table")
    code, length = dc_codes[t]
    bwr.write(code, length)
    if t:
        mag = diff if diff >= 0 else diff + (1 << t) - 1
        bwr.write(mag & ((1 << t) - 1), t)
    return v


class _AcFirstState:
    def __init__(self) -> None:
        self.eobrun = 0


def _flush_ac_first_eobrun(bwr, ac_codes, st: "_AcFirstState") -> None:
    if st.eobrun > 0:
        n = st.eobrun.bit_length() - 1
        code, length = ac_codes[n << 4]
        bwr.write(code, length)
        if n:
            bwr.write(st.eobrun - (1 << n), n)
        st.eobrun = 0


def _write_block_ac_first(bwr, blk, ss, se, al, ac_codes,
                          st: "_AcFirstState") -> None:
    vals = []
    for k in range(ss, se + 1):
        c = blk[ZIGZAG[k]]
        m = abs(c) >> al
        vals.append(m if c >= 0 else -m)
    if not any(vals):
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_ac_first_eobrun(bwr, ac_codes, st)
        return
    last_nz = max(i for i, v in enumerate(vals) if v)
    _flush_ac_first_eobrun(bwr, ac_codes, st)
    run = 0
    for v in vals[: last_nz + 1]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bwr.write(code, length)
            run -= 16
        s = _category(v)
        if s > 10:
            raise ValueError("AC magnitude too large for fixture table")
        code, length = ac_codes[(run << 4) | s]
        bwr.write(code, length)
        mag = v if v >= 0 else v + (1 << s) - 1
        bwr.write(mag & ((1 << s) - 1), s)
        run = 0
    if last_nz < se - ss:  # trailing zeros -> this block starts an EOB run
        st.eobrun = 1


class _AcRefineState:
    def __init__(self) -> None:
        self.eobrun = 0
        self.be: List[int] = []  # correction bits tied to the pending run


def _flush_ac_refine_eobrun(bwr, ac_codes, st: "_AcRefineState") -> None:
    if st.eobrun > 0:
        n = st.eobrun.bit_length() - 1
        code, length = ac_codes[n << 4]
        bwr.write(code, length)
        if n:
            bwr.write(st.eobrun - (1 << n), n)
        st.eobrun = 0
    for b in st.be:
        bwr.write(b, 1)
    st.be = []


def _write_block_ac_refine(bwr, blk, ss, se, al, ac_codes,
                           st: "_AcRefineState") -> None:
    """libjpeg-shaped refinement pass: ZRLs only inside the
    newly-significant span (folded into the EOB run past it), correction
    bits buffered and flushed with the symbol they follow."""
    absv = []
    eob_pos = ss - 1  # index of the LAST newly-significant coefficient
    for k in range(ss, se + 1):
        t = abs(blk[ZIGZAG[k]]) >> al
        absv.append(t)
        if t == 1:
            eob_pos = k
    r = 0
    br: List[int] = []  # this block's pending correction bits
    for k in range(ss, se + 1):
        temp = absv[k - ss]
        if temp == 0:
            r += 1
            continue
        while r > 15 and k <= eob_pos:
            _flush_ac_refine_eobrun(bwr, ac_codes, st)
            code, length = ac_codes[0xF0]
            bwr.write(code, length)
            r -= 16
            for b in br:
                bwr.write(b, 1)
            br = []
        if temp > 1:
            br.append(temp & 1)
            continue
        _flush_ac_refine_eobrun(bwr, ac_codes, st)
        code, length = ac_codes[(r << 4) | 1]
        bwr.write(code, length)
        bwr.write(1 if blk[ZIGZAG[k]] >= 0 else 0, 1)
        for b in br:
            bwr.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.be.extend(br)
        if st.eobrun == 0x7FFF:
            _flush_ac_refine_eobrun(bwr, ac_codes, st)


def _assemble_progressive(width, height, q, comps_sof, scans) -> bytes:
    """SOI + DQT + SOF2 + the fixture DHT pair + the scan list + EOI."""

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_q = bytes(q[ZIGZAG[i]] for i in range(64))
    ncomp = len(comps_sof) // 3
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + zz_q)
    out += seg(0xC2, struct.pack(">BHHB", 8, height, width, ncomp) + comps_sof)
    out += seg(
        0xC4,
        b"\x00" + bytes(_PROG_DC_COUNTS) + bytes(_PROG_DC_SYMBOLS)
        + b"\x10" + bytes(_PROG_AC_COUNTS) + bytes(_PROG_AC_SYMBOLS),
    )
    for sos, scan in scans:
        out += sos + scan
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic grayscale PROGRESSIVE JPEG from the same quantized
    coefficient blocks :func:`encode_jpeg_blocks` takes — decodes to
    bit-identical pixels (tested), but through the SOF2 multi-scan
    path."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"need {bw * bh} blocks, got {len(blocks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_PROG_DC_COUNTS, _PROG_DC_SYMBOLS)
    ac_codes = _huffman_codes(_PROG_AC_COUNTS, _PROG_AC_SYMBOLS)
    scans = []
    # scan 1: DC first, Al=1
    bwr = _BitWriter()
    pred = 0
    for blk in blocks:
        pred = _write_dc_first_val(bwr, blk[0] >> 1, pred, dc_codes)
    scans.append((_sos_seg([(1, 0, 0)], 0, 0, 0, 1), bwr.flush()))
    # scan 2: DC refinement, Ah=1 Al=0
    bwr = _BitWriter()
    for blk in blocks:
        bwr.write(blk[0] & 1, 1)
    scans.append((_sos_seg([(1, 0, 0)], 0, 0, 1, 0), bwr.flush()))
    # scan 3: AC first, band 1-63, Al=1
    bwr = _BitWriter()
    st1 = _AcFirstState()
    for blk in blocks:
        _write_block_ac_first(bwr, blk, 1, 63, 1, ac_codes, st1)
    _flush_ac_first_eobrun(bwr, ac_codes, st1)
    scans.append((_sos_seg([(1, 0, 0)], 1, 63, 0, 1), bwr.flush()))
    # scan 4: AC refinement, band 1-63, Ah=1 Al=0
    bwr = _BitWriter()
    st2 = _AcRefineState()
    for blk in blocks:
        _write_block_ac_refine(bwr, blk, 1, 63, 0, ac_codes, st2)
    _flush_ac_refine_eobrun(bwr, ac_codes, st2)
    scans.append((_sos_seg([(1, 0, 0)], 1, 63, 1, 0), bwr.flush()))
    return _assemble_progressive(width, height, q, b"\x01\x11\x00", scans)
