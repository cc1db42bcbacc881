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

The deterministic fixture encoders (baseline and progressive, from
already-quantized coefficient blocks) live in the repo-root
``fixture_writers.py``.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Tuple

import numpy as np

from .malformed import malformed_input

__all__ = ["decode_jpeg", "ZIGZAG"]

# zigzag scan order: index i in the stream → position ZIGZAG[i] (row*8+col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
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


@malformed_input("JPEG")
def decode_jpeg(data: bytes) -> Tuple[int, int, int, bytes]:
    """bytes → (width, height, channels, pixels row-major).

    Malformed input raises ``ValueError``: a truncated stream, a
    missing table or a zero sampling factor included."""
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
