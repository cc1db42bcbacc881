"""FLAC codec — pure-stdlib frame decoder.

Real lossless audio decode for the web's second-most-common lossless
container (after WAV): STREAMINFO + frame chain with CONSTANT /
VERBATIM / FIXED(0-4) / LPC subframes, Rice-coded residual partitions
(both 4- and 5-bit parameter widths, escape-to-raw), wasted bits, and
all four channel assignments (independent, left/side, right/side,
mid/side). CRC-8 (frame header) and CRC-16 (whole frame) are VERIFIED
— a corrupt frame raises instead of emitting noise.

This lights up the perceptual audio pipeline for FLAC: decoded samples
feed the same integer energy fingerprint as WAV
(perceptual.audio_dhash_bands), so a WAV and its FLAC re-encode land
in the same near-dup cluster.

Out of scope (documented, per-row isolated): variable-blocksize
streams (blocking-strategy bit 1 is accepted — the sample-number
UTF-8 field is wider — but subset streams are what encoders emit) and
bit depths beyond 8/12/16/20/24 (the standard table).

References: the FLAC format specification (RFC 9639); fixed-predictor
coefficients [1], [2,-1], [3,-3,1], [4,-6,4,-1] and the Rice zigzag
(u >> 1) ^ -(u & 1) are normative constants.
"""

from __future__ import annotations

from typing import List, Tuple

from .malformed import malformed_input

__all__ = ["decode_flac"]

_FIXED_COEFS = ([], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1])

_BLOCKSIZE_TABLE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_RATE_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BPS_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _Bits:
    """MSB-first bit reader (FLAC bit order, unlike VP8L's LSB-first)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.bit = pos * 8

    def read(self, n: int) -> int:
        end = self.bit + n
        if (end + 7) >> 3 > len(self.d):
            raise ValueError("FLAC stream truncated")
        v = 0
        b = self.bit
        d = self.d
        while n:
            avail = 8 - (b & 7)
            take = min(n, avail)
            cur = d[b >> 3]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            b += take
            n -= take
        self.bit = b
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        c = 0
        while self.read(1) == 0:
            c += 1
            if c > 1 << 24:
                raise ValueError("FLAC unary run out of bounds")
        return c

    def align(self) -> None:
        self.bit = (self.bit + 7) & ~7

    def byte_pos(self) -> int:
        return self.bit >> 3


def _read_utf8_number(br: _Bits) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    n = 0
    mask = 0x40
    while first & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise ValueError("FLAC bad UTF-8 coded number")
    v = first & (mask - 1)
    for _ in range(n):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(br: _Bits, blocksize: int, order: int) -> List[int]:
    method = br.read(2)
    if method not in (0, 1):
        raise ValueError(f"FLAC reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    if blocksize % (1 << po):
        raise ValueError("FLAC partition order does not divide blocksize")
    out: List[int] = []
    for p in range(1 << po):
        count = (blocksize >> po) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            for _ in range(count):
                out.append(br.read_signed(raw) if raw else 0)
        else:
            for _ in range(count):
                q = br.unary()
                u = (q << param) | br.read(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _read_subframe(br: _Bits, blocksize: int, bps: int) -> List[int]:
    if br.read(1):
        raise ValueError("FLAC subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if stype == 0:  # CONSTANT
        v = br.read_signed(eff)
        samples = [v] * blocksize
    elif stype == 1:  # VERBATIM
        samples = [br.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED, order 0-4
        order = stype - 8
        warm = [br.read_signed(eff) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        samples = list(warm)
        coefs = _FIXED_COEFS[order]
        for r in resid:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(pred + r)
    elif stype >= 32:  # LPC, order 1-32
        order = stype - 31
        warm = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("FLAC invalid LPC precision escape")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        samples = list(warm)
        for r in resid:
            acc = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append((acc >> shift) + r)
    else:
        raise ValueError(f"FLAC reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


@malformed_input("FLAC")
def decode_flac(data: bytes) -> Tuple[int, int, int, List[int]]:
    """bytes → (channels, sample_rate, n_frames, interleaved samples)
    — the same contract as multimodal.decode_wav (n_frames = SAMPLE
    frames, i.e. samples per channel), so every consumer
    (audio_features, audio_fingerprint) works unchanged. Malformed
    input raises ValueError."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    si_rate = si_ch = si_bps = None
    while pos + 4 <= len(data):
        hdr = data[pos]
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        if hdr & 0x7F == 0 and len(body) >= 18:  # STREAMINFO
            bits = int.from_bytes(body[10:18], "big")
            si_rate = (bits >> 44) & 0xFFFFF
            si_ch = ((bits >> 41) & 0x7) + 1
            si_bps = ((bits >> 36) & 0x1F) + 1
        pos += 4 + blen
        if hdr & 0x80:
            break
    if si_rate is None:
        raise ValueError("FLAC missing STREAMINFO")
    out: List[List[int]] = []
    while pos < len(data):
        br = _Bits(data, pos)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC bad frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        rate_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)  # reserved
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("FLAC reserved blocksize code 0")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_TABLE[bs_code]
        if rate_code == 0:
            rate = si_rate
        elif rate_code == 12:
            rate = br.read(8) * 1000
        elif rate_code == 13:
            rate = br.read(16)
        elif rate_code == 14:
            rate = br.read(16) * 10
        elif rate_code == 15:
            raise ValueError("FLAC invalid sample-rate code")
        else:
            rate = _RATE_TABLE[rate_code]
        if bps_code == 0:
            bps = si_bps
        elif bps_code in _BPS_TABLE:
            bps = _BPS_TABLE[bps_code]
        else:
            raise ValueError(f"FLAC reserved sample-size code {bps_code}")
        hdr_end = br.byte_pos()
        crc8 = br.read(8)
        if _crc8(data[pos:hdr_end]) != crc8:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if ch_code <= 7:
            n_ch = ch_code + 1
            chans = [
                _read_subframe(br, blocksize, bps) for _ in range(n_ch)
            ]
        elif ch_code in (8, 9, 10):
            n_ch = 2
            extra = (1, 0) if ch_code == 9 else (0, 1)
            a = _read_subframe(br, blocksize, bps + extra[0])
            b = _read_subframe(br, blocksize, bps + extra[1])
            if ch_code == 8:  # left/side: r = l - s
                chans = [a, [l - s for l, s in zip(a, b)]]
            elif ch_code == 9:  # side/right: l = r + s
                chans = [[r + s for s, r in zip(a, b)], b]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(a, b):
                    t = (m << 1) | (s & 1)
                    left.append((t + s) >> 1)
                    right.append((t - s) >> 1)
                chans = [left, right]
        else:
            raise ValueError(f"FLAC reserved channel assignment {ch_code}")
        if si_ch is not None and n_ch != si_ch:
            raise ValueError("FLAC frame channel count differs from STREAMINFO")
        br.align()
        frame_end = br.byte_pos()
        crc16 = br.read(16)
        if _crc16(data[pos:frame_end]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        for i in range(blocksize):
            out.append([c[i] for c in chans])
        pos = br.byte_pos()
    if not out:
        raise ValueError("FLAC stream has no audio frames")
    inter: List[int] = [s for row in out for s in row]
    return (len(out[0]), rate, len(out), inter)
