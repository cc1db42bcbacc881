"""WebP-lossless (VP8L) codec — pure stdlib, web-grade decoder for the
subset that can be implemented from the format's published structure
without risking silent corruption.

Why: blank/simple thumbnails — the hottest perceptual-dedup cluster on
the web — are commonly re-encoded as lossless WebP (palettized or
plain). Until now the perceptual pipeline sniffed WebP dims but never
decoded pixels, so dHash silently skipped them (sha256 exact-dup was
the only coverage).

Scope: the decoder now covers the FULL still-image VP8L feature set —
the complete prefix-code machinery (simple codes, code-length codes
with 16/17/18 repeats, optional max-symbol cap, canonical
assignment), color cache, LZ77 copies with both PLAIN (> 120) and
NEIGHBORHOOD-MAPPED (1-120) distance codes, meta prefix codes
(entropy image / per-block tree groups), and all four transforms:
PREDICTOR (14 modes + border rules), COLOR (cross-color cte),
SUBTRACT_GREEN, and COLOR_INDEXING (palette) incl. sub-byte pixel
bundling. Lossy VP8 remains out of scope (DCT codec) and raises
NotImplementedError, per-row isolated by every caller.

The 120-entry distance map is generated from its closed-form rule
(offsets (x, y) with y in [0,7], x in [-7,8], excluding the y==0,
x<=0 half-row; sorted by x²+y², ties broken by larger y first, then
positive x before negative). The explicit spec table is hard-coded in
tests/test_vp8l.py and compared entry-by-entry against the generated
one, and the decoded geometry is exercised by hand-built streams
(row-copy via code 1, the dist<1 clamp via code 80). The predictor
`Select` uses the RFC 9649 amended strict comparison (pLeft < pTop
→ left), and `ClampAddSubtractHalf` replicates C's truncate-
toward-zero division — both match libwebp's decoder.

The fixture encoder (in the repo-root ``fixture_writers.py``) writes
canonical prefix-coded literal streams and can optionally emit
SUBTRACT_GREEN / single-block PREDICTOR / single-block COLOR
transforms — byte-valid per the spec, and round-trips through the
decoder bit-exactly (property-tested). Both sides share ONE
canonical-code constructor and ONE predictor kernel from this module,
so the bit-level wiring cannot drift; the kernels themselves are
covered by known-answer tests with hand-computed pixels.

Bit order: fixed-width fields are LSB-first; prefix codes descend the
tree one bit at a time (code MSB first), exactly the DEFLATE packing
convention.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Sequence, Tuple

from .malformed import malformed_input

__all__ = ["decode_vp8l", "decode_webp"]

# order in which code-length-code lengths are stored (spec constant)
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_CACHE_MULT = 0x1E35A7BD


def _make_dist_map() -> Tuple[Tuple[int, int], ...]:
    """The 120-entry neighborhood distance map, generated from its
    closed-form rule; the literal spec table is asserted against this
    in tests/test_vp8l.py."""
    cands = [
        (x, y)
        for y in range(8)
        for x in range(-7, 9)
        if not (y == 0 and x <= 0)
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return tuple(cands)


_DIST_MAP = _make_dist_map()


def _i8(v: int) -> int:
    """Byte reinterpreted as signed int8 (the cte delta convention)."""
    return v - 256 if v >= 128 else v


def _avg2(a: int, b: int) -> int:
    """Per-channel (a+b)>>1 on packed ARGB (no cross-channel carry)."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _select(L: int, T: int, TL: int) -> int:
    """Predictor 11: per the amended spec, left wins strictly."""
    p_left = 0
    p_top = 0
    for sh in (24, 16, 8, 0):
        tl = (TL >> sh) & 0xFF
        p_left += abs(((T >> sh) & 0xFF) - tl)
        p_top += abs(((L >> sh) & 0xFF) - tl)
    return L if p_left < p_top else T


def _clamp_add_sub_full(L: int, T: int, TL: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = ((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) - ((TL >> sh) & 0xFF)
        out |= (0 if c < 0 else 255 if c > 255 else c) << sh
    return out


def _clamp_add_sub_half(L: int, T: int, TL: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (((L >> sh) & 0xFF) + ((T >> sh) & 0xFF)) >> 1
        d = a - ((TL >> sh) & 0xFF)
        # C truncates toward zero; Python // floors — match C.
        c = a + (d // 2 if d >= 0 else -((-d) // 2))
        out |= (0 if c < 0 else 255 if c > 255 else c) << sh
    return out


# (L, T, TL, TR) -> packed ARGB prediction.  16 entries: the mode
# byte is masked to 4 bits and 14/15 alias 0/1, mirroring libwebp's
# predictor table so garbage mode bytes cannot index out of range.
_PREDICTORS = (
    lambda L, T, TL, TR: 0xFF000000,
    lambda L, T, TL, TR: L,
    lambda L, T, TL, TR: T,
    lambda L, T, TL, TR: TR,
    lambda L, T, TL, TR: TL,
    lambda L, T, TL, TR: _avg2(_avg2(L, TR), T),
    lambda L, T, TL, TR: _avg2(L, TL),
    lambda L, T, TL, TR: _avg2(L, T),
    lambda L, T, TL, TR: _avg2(TL, T),
    lambda L, T, TL, TR: _avg2(T, TR),
    lambda L, T, TL, TR: _avg2(_avg2(L, TL), _avg2(T, TR)),
    lambda L, T, TL, TR: _select(L, T, TL),
    lambda L, T, TL, TR: _clamp_add_sub_full(L, T, TL),
    lambda L, T, TL, TR: _clamp_add_sub_half(L, T, TL),
    lambda L, T, TL, TR: 0xFF000000,
    lambda L, T, TL, TR: L,
)


def _predict(
    px: Sequence[int], w: int, x: int, y: int, size_bits: int,
    sub: Sequence[int], block_w: int,
) -> int:
    """Prediction for pixel (x, y) given already-final pixels `px`
    (row-major).  Border rules override the block mode: (0,0) is
    opaque black, the top row is L, the left column is T; TR on the
    rightmost column is the leftmost pixel of the CURRENT row (the
    scanline-contiguity rule).  Shared by the decoder's inverse pass
    and the fixture encoder's forward pass."""
    i = y * w + x
    if y == 0:
        return 0xFF000000 if x == 0 else px[i - 1]
    if x == 0:
        return px[i - w]
    mode = (sub[(y >> size_bits) * block_w + (x >> size_bits)] >> 8) & 0xF
    L = px[i - 1]
    T = px[i - w]
    TL = px[i - w - 1]
    TR = px[i - w + 1] if x + 1 < w else px[y * w]
    return _PREDICTORS[mode](L, T, TL, TR)


def _add_px(a: int, b: int) -> int:
    """Per-channel (a+b) mod 256 on packed ARGB."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _color_deltas(cte: int) -> Tuple[int, int, int]:
    """cte pixel -> (green_to_red, green_to_blue, red_to_blue) as
    signed int8: blue channel, green channel, red channel."""
    return (_i8(cte & 0xFF), _i8((cte >> 8) & 0xFF), _i8((cte >> 16) & 0xFF))


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0  # bit offset

    def read(self, n: int) -> int:
        v = 0
        d, p = self.d, self.pos
        if (p + n - 1) >> 3 >= len(d):
            raise ValueError("VP8L stream truncated")
        for i in range(n):
            v |= ((d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos += n
        return v

    def bit(self) -> int:
        return self.read(1)


def _canonical_codes(lengths: Sequence[int]) -> Dict[int, Tuple[int, int]]:
    """symbol -> (code, length), DEFLATE canonical assignment (shorter
    codes first; ties broken by symbol order). Shared by encoder and
    decoder so the two sides cannot disagree."""
    pairs = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    codes: Dict[int, Tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _Tree:
    """Prefix decoder: walk bit-by-bit through a (length, code) map."""

    def __init__(self, lengths: Sequence[int]) -> None:
        used = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if len(used) == 1:
            # degenerate: single symbol, zero bits
            self.single: Optional[int] = used[0][0]
            self.map: Dict[Tuple[int, int], int] = {}
            return
        self.single = None
        self.map = {
            (ln, code): sym
            for sym, (code, ln) in _canonical_codes(lengths).items()
        }
        if not self.map:
            raise ValueError("VP8L prefix code with no symbols")

    @classmethod
    def simple(cls, symbols: List[int]) -> "_Tree":
        t = cls.__new__(cls)
        if len(symbols) == 1:
            t.single = symbols[0]
            t.map = {}
        else:
            t.single = None
            t.map = {(1, 0): symbols[0], (1, 1): symbols[1]}
        return t

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        while True:
            code = (code << 1) | br.bit()
            length += 1
            sym = self.map.get((length, code))
            if sym is not None:
                return sym
            if length > 15:
                raise ValueError("VP8L prefix code longer than 15 bits")


def _read_tree(br: _BitReader, alphabet_size: int) -> _Tree:
    if br.bit():  # simple code
        num_symbols = br.bit() + 1
        first_8bit = br.bit()
        s0 = br.read(8 if first_8bit else 1)
        syms = [s0]
        if num_symbols == 2:
            syms.append(br.read(8))
        for s in syms:
            if s >= alphabet_size:
                raise ValueError("VP8L simple-code symbol out of range")
        return _Tree.simple(syms)
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_tree = _Tree(cl_lengths)
    if br.bit():  # explicit max symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = cl_tree.decode(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    raise ValueError("VP8L repeat overruns alphabet")
                lengths[symbol] = prev_len
                symbol += 1
        elif cl == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    if symbol > alphabet_size:
        raise ValueError("VP8L repeat overruns alphabet")
    return _Tree(lengths)


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length / distance prefix decoding (spec §'LZ77 backward
    reference'): codes 0-3 literal, then (2 + code&1) << extra."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_entropy_image(
    br: _BitReader, w: int, h: int, is_main: bool
) -> List[int]:
    """One spatially-coded ARGB image (as 32-bit ints, row-major)."""
    cache_bits = 0
    if br.bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L color-cache bits {cache_bits} out of range")
    meta_map: Optional[List[int]] = None
    meta_bits = 0
    meta_w = 0
    n_groups = 1
    if is_main and br.bit():
        meta_bits = br.read(3) + 2
        meta_w = (w + (1 << meta_bits) - 1) >> meta_bits
        meta_h = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_px = _decode_entropy_image(br, meta_w, meta_h, is_main=False)
        # group index lives in (red << 8) | green of each meta pixel
        meta_map = [(p >> 8) & 0xFFFF for p in meta_px]
        n_groups = max(meta_map) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = [
        (
            _read_tree(br, 256 + 24 + cache_size),
            _read_tree(br, 256),
            _read_tree(br, 256),
            _read_tree(br, 256),
            _read_tree(br, 40),
        )
        for _ in range(n_groups)
    ]
    cache = [0] * cache_size
    n = w * h
    px: List[int] = []
    while len(px) < n:
        if meta_map is None:
            green_tree, red_tree, blue_tree, alpha_tree, dist_tree = groups[0]
        else:
            i = len(px)
            green_tree, red_tree, blue_tree, alpha_tree, dist_tree = groups[
                meta_map[
                    ((i // w) >> meta_bits) * meta_w + ((i % w) >> meta_bits)
                ]
            ]
        g = green_tree.decode(br)
        if g < 256:
            r = red_tree.decode(br)
            b = blue_tree.decode(br)
            a = alpha_tree.decode(br)
            argb = (a << 24) | (r << 16) | (g << 8) | b
            px.append(argb)
        elif g < 280:
            length = _prefix_value(g - 256, br)
            dist_code = _prefix_value(dist_tree.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist <= 0 or dist > len(px):
                raise ValueError("VP8L back-reference out of range")
            for _ in range(length):
                if len(px) >= n:
                    raise ValueError("VP8L copy overruns image")
                argb = px[-dist]
                px.append(argb)
                if cache_size:
                    cache[
                        ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
            continue
        else:
            if g - 280 >= cache_size:
                raise ValueError("VP8L cache index out of range")
            argb = cache[g - 280]
            px.append(argb)
            continue
        if cache_size:
            cache[((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
    return px


def decode_vp8l(data: bytes) -> Tuple[int, int, int, bytes]:
    """VP8L payload (after the 'VP8L' chunk header) → (w, h, 4, RGBA).

    Raises ValueError on malformed input and NotImplementedError on
    the documented out-of-scope features (predictor/color transforms,
    mapped distances, meta prefix codes)."""
    br = _BitReader(data)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.bit()  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")

    transforms: List[tuple] = []
    seen_transforms = set()
    xsize = w
    while br.bit():
        ttype = br.read(2)
        if ttype in seen_transforms:
            raise ValueError("VP8L duplicate transform")
        seen_transforms.add(ttype)
        if ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subtract_green",))
        elif ttype == 3:  # COLOR_INDEXING
            n_colors = br.read(8) + 1
            pal_deltas = _decode_entropy_image(br, n_colors, 1, is_main=False)
            palette: List[int] = []
            prev = 0
            for d in pal_deltas:
                # component-wise delta from the previous entry
                cur = (
                    (((d >> 24) + (prev >> 24)) & 0xFF) << 24
                    | (((d >> 16) + (prev >> 16)) & 0xFF) << 16
                    | (((d >> 8) + (prev >> 8)) & 0xFF) << 8
                    | ((d + prev) & 0xFF)
                )
                palette.append(cur)
                prev = cur
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append(("palette", palette, width_bits, xsize))
            if width_bits:
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits
        else:  # 0 = PREDICTOR, 1 = COLOR — sub-image of per-block modes/ctes
            size_bits = br.read(3) + 2
            block_w = (xsize + (1 << size_bits) - 1) >> size_bits
            block_h = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_entropy_image(br, block_w, block_h, is_main=False)
            transforms.append(
                (
                    "predictor" if ttype == 0 else "color",
                    size_bits,
                    sub,
                    xsize,
                    block_w,
                )
            )

    px = _decode_entropy_image(br, xsize, h, is_main=True)

    for t in reversed(transforms):
        if t[0] == "subtract_green":
            for i, v in enumerate(px):
                g = (v >> 8) & 0xFF
                r = (((v >> 16) & 0xFF) + g) & 0xFF
                b = ((v & 0xFF) + g) & 0xFF
                px[i] = (v & 0xFF00FF00) | (r << 16) | b
        elif t[0] == "predictor":
            _, size_bits, sub, tw, block_w = t
            if len(px) != tw * h:
                raise ValueError("VP8L predictor transform size mismatch")
            for y in range(h):
                for x in range(tw):
                    i = y * tw + x
                    px[i] = _add_px(
                        px[i], _predict(px, tw, x, y, size_bits, sub, block_w)
                    )
        elif t[0] == "color":
            _, size_bits, sub, tw, block_w = t
            if len(px) != tw * h:
                raise ValueError("VP8L color transform size mismatch")
            for y in range(h):
                brow = (y >> size_bits) * block_w
                for x in range(tw):
                    i = y * tw + x
                    g2r, g2b, r2b = _color_deltas(sub[brow + (x >> size_bits)])
                    v = px[i]
                    g = _i8((v >> 8) & 0xFF)
                    r = (((v >> 16) & 0xFF) + ((g2r * g) >> 5)) & 0xFF
                    b = ((v & 0xFF) + ((g2b * g) >> 5)) & 0xFF
                    b = (b + ((r2b * _i8(r)) >> 5)) & 0xFF
                    px[i] = (v & 0xFF00FF00) | (r << 16) | b
        else:  # palette
            _, palette, width_bits, full_w = t
            out: List[int] = []
            if width_bits:
                ppp = 1 << width_bits  # pixels per packed green byte
                bpp = 8 >> width_bits  # bits per pixel index
                mask = (1 << bpp) - 1
                packed_w = (full_w + ppp - 1) >> width_bits
                for y in range(h):
                    row = px[y * packed_w : (y + 1) * packed_w]
                    for x in range(full_w):
                        g = (row[x >> width_bits] >> 8) & 0xFF
                        idx = (g >> ((x & (ppp - 1)) * bpp)) & mask
                        if idx >= len(palette):
                            raise ValueError("VP8L palette index out of range")
                        out.append(palette[idx])
            else:
                for v in px:
                    idx = (v >> 8) & 0xFF
                    if idx >= len(palette):
                        raise ValueError("VP8L palette index out of range")
                    out.append(palette[idx])
            px = out
            xsize = full_w

    if len(px) != w * h:
        raise ValueError("VP8L decoded pixel count mismatch")
    out_b = bytearray(w * h * 4)
    for i, v in enumerate(px):
        out_b[4 * i] = (v >> 16) & 0xFF  # R
        out_b[4 * i + 1] = (v >> 8) & 0xFF  # G
        out_b[4 * i + 2] = v & 0xFF  # B
        out_b[4 * i + 3] = (v >> 24) & 0xFF  # A
    return (w, h, 4, bytes(out_b))


@malformed_input("WebP")
def decode_webp(data: bytes) -> Tuple[int, int, int, bytes]:
    """RIFF WebP container → decode the VP8L chunk. Lossy VP8 (and
    VP8X-wrapped lossy) raises NotImplementedError — a full DCT codec
    is out of scope; extended containers are walked for a VP8L chunk
    first. Malformed input raises ValueError."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if cid == b"VP8L":
            return decode_vp8l(data[pos + 8 : pos + 8 + sz])
        pos += 8 + sz + (sz & 1)
    raise NotImplementedError("WebP without a VP8L chunk (lossy VP8)")


# ---------------------------------------------------------------------------
# Animated WebP container (VP8X + ANIM + ANMF): parse only — frame
# compositing lives in multimodal._compose_anim, shared with APNG.


def _u24(data: bytes, pos: int) -> int:
    return data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)


def parse_webp_anim(data: bytes):
    """Animated WebP → (canvas_w, canvas_h, frames) where each frame is
    (x, y, fw, fh, rgba_bytes, dispose, blend) with the shared codes
    (dispose: 0 none / 1 background; blend: 0 source / 1 over). Each
    ANMF sub-bitstream must be VP8L (the repo's real lossless decoder);
    lossy VP8 sub-frames raise NotImplementedError. Raises ValueError
    if the container carries no animation."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    pos, end = 12, min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    canvas = None
    frames = []
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + sz]
        if cid == b"VP8X":
            if len(body) < 10:
                raise ValueError("short VP8X chunk")
            if not body[0] & 0x02:
                raise ValueError("WebP container is not animated")
            canvas = (_u24(body, 4) + 1, _u24(body, 7) + 1)
        elif cid == b"ANMF":
            if len(body) < 16:
                raise ValueError("short ANMF chunk")
            x, y = _u24(body, 0) * 2, _u24(body, 3) * 2
            fw, fh = _u24(body, 6) + 1, _u24(body, 9) + 1
            flags = body[15]
            dispose = flags & 0x01
            blend = 0 if flags & 0x02 else 1  # spec bit: 1 = do NOT blend
            # frame data: sub-chunks; find the VP8L payload
            spos, send = 16, len(body)
            rgba = None
            while spos + 8 <= send:
                scid = body[spos : spos + 4]
                (ssz,) = struct.unpack("<I", body[spos + 4 : spos + 8])
                if scid == b"VP8L":
                    w, h, _ch, rgba = decode_vp8l(
                        body[spos + 8 : spos + 8 + ssz]
                    )
                    if (w, h) != (fw, fh):
                        raise ValueError("ANMF/VP8L dimension mismatch")
                    break
                if scid == b"VP8 ":
                    raise NotImplementedError("lossy VP8 animation frame")
                spos += 8 + ssz + (ssz & 1)
            if rgba is None:
                raise ValueError("ANMF frame without a VP8L bitstream")
            frames.append((x, y, fw, fh, rgba, dispose, blend))
        pos += 8 + sz + (sz & 1)
    if canvas is None:
        raise ValueError("animated WebP without a VP8X chunk")
    if not frames:
        raise ValueError("animated WebP without ANMF frames")
    return canvas[0], canvas[1], frames
