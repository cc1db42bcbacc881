"""VP8L (lossless WebP) codec tests — roundtrips through the fixture
encoder plus HAND-BUILT bitstreams for the decoder-only paths the
encoder never emits (subtract-green, palettes with pixel bundling,
color cache, LZ77 plain-distance copies) and the documented
NotImplementedError edges."""

from __future__ import annotations

import random

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import multimodal as mm
from cmc_knowledge_graph_text2ttl_spark.operators import vp8l as V
from cmc_knowledge_graph_text2ttl_spark.operators.vp8l import (
    _CACHE_MULT,
    _canonical_codes,
)
import fixture_writers as FW
from fixture_writers import _BitWriter, _huffman_lengths, _write_tree


def _write_literal_image(bw, argb_pixels, cache_bits=0, is_main=True):
    """Entropy-coded image of plain literals (the encoder's tail,
    reusable after hand-written transform headers)."""
    gs = [(p >> 8) & 0xFF for p in argb_pixels]
    rs = [(p >> 16) & 0xFF for p in argb_pixels]
    bs = [p & 0xFF for p in argb_pixels]
    As = [(p >> 24) & 0xFF for p in argb_pixels]

    def freq(vals):
        f = {}
        for v in vals:
            f[v] = f.get(v, 0) + 1
        return f

    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if is_main:
        bw.write(0, 1)  # no meta prefix codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    trees = [
        _huffman_lengths(freq(gs), 256 + 24 + cache_size),
        _huffman_lengths(freq(rs), 256),
        _huffman_lengths(freq(bs), 256),
        _huffman_lengths(freq(As), 256),
        [0] * 40,
    ]
    for lens in trees:
        _write_tree(bw, lens)
    codes = [_canonical_codes(t) for t in trees[:4]]
    for i in range(len(argb_pixels)):
        for ch_codes, vals in zip(codes, (gs, rs, bs, As)):
            if len(ch_codes) > 1:
                bw.write_code(*ch_codes[vals[i]])


def _header(bw, w, h):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


class TestRoundtrip:
    def test_random_images_bit_exact(self):
        random.seed(42)
        for _ in range(15):
            w, h = random.randint(1, 20), random.randint(1, 15)
            ch = random.choice([3, 4])
            px = bytes(random.randrange(256) for _ in range(w * h * ch))
            got = V.decode_webp(FW.encode_webp_lossless(w, h, px, ch))
            assert got[:3] == (w, h, 4)
            for i in range(w * h):
                assert got[3][4 * i : 4 * i + 3] == px[ch * i : ch * i + 3]
                a = px[ch * i + 3] if ch == 4 else 255
                assert got[3][4 * i + 3] == a

    def test_constant_image_degenerate_trees(self):
        blob = FW.encode_webp_lossless(6, 3, bytes([7, 8, 9] * 18), 3)
        w, h, ch, px = V.decode_webp(blob)
        assert (w, h, ch) == (6, 3, 4)
        assert px == bytes([7, 8, 9, 255]) * 18

    def test_decode_image_dispatch_and_dims(self):
        blob = FW.encode_webp_lossless(5, 4, bytes(60), 3)
        assert mm.sniff_media(blob) == ("image", "webp", 5, 4)
        assert mm.decode_image(blob)[:3] == (5, 4, 4)

    def test_dhash_sees_through_png_webp_reencode(self):
        from cmc_knowledge_graph_text2ttl_spark.operators.perceptual import (
            dhash_bands,
        )

        w, h = 16, 11
        px = bytes((j * 17 + (j % 7) * 41) % 256 for j in range(w * h * 3))
        a = dhash_bands(*mm.decode_png(FW.encode_png(w, h, px, 3)))
        b = dhash_bands(*mm.decode_image(FW.encode_webp_lossless(w, h, px, 3)))
        assert a == b


class TestHandBuiltStreams:
    def test_subtract_green_inverse(self):
        w, h = 4, 3
        rgb = [(30 + i, 100 + i, 200 - i) for i in range(w * h)]
        bw = _BitWriter()
        _header(bw, w, h)
        bw.write(1, 1)  # a transform follows
        bw.write(2, 2)  # SUBTRACT_GREEN
        bw.write(0, 1)  # no more transforms
        fwd = [
            (0xFF << 24)
            | (((r - g) & 0xFF) << 16)
            | (g << 8)
            | ((b - g) & 0xFF)
            for r, g, b in rgb
        ]
        _write_literal_image(bw, fwd)
        got = V.decode_vp8l(bytes(bw.out))
        assert got[:3] == (w, h, 4)
        for i, (r, g, b) in enumerate(rgb):
            assert got[3][4 * i : 4 * i + 4] == bytes((r, g, b, 255))

    def _palette_stream(self, w, h, palette, indices):
        bw = _BitWriter()
        _header(bw, w, h)
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(len(palette) - 1, 8)
        # palette is delta-coded component-wise vs previous entry
        deltas = []
        prev = 0
        for cur in palette:
            deltas.append(
                (((cur >> 24) - (prev >> 24)) & 0xFF) << 24
                | (((cur >> 16) - (prev >> 16)) & 0xFF) << 16
                | (((cur >> 8) - (prev >> 8)) & 0xFF) << 8
                | ((cur - prev) & 0xFF)
            )
            prev = cur
        _write_literal_image(bw, deltas, is_main=False)
        bw.write(0, 1)  # no more transforms
        n = len(palette)
        wb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        if wb:
            ppp, bpp = 1 << wb, 8 >> wb
            packed_w = (w + ppp - 1) >> wb
            packed = []
            for y in range(h):
                for xp in range(packed_w):
                    g = 0
                    for k in range(ppp):
                        x = (xp << wb) + k
                        if x < w:
                            g |= indices[y * w + x] << (k * bpp)
                    packed.append((0xFF << 24) | (g << 8))
            _write_literal_image(bw, packed)
        else:
            _write_literal_image(
                bw, [(0xFF << 24) | (i << 8) for i in indices]
            )
        return bytes(bw.out)

    def test_palette_bundled_4_colors(self):
        w, h = 9, 2  # 2-bit indices, 4 px per green byte, ragged edge
        palette = [0xFF102030, 0xFF405060, 0xFF708090, 0xFFA0B0C0]
        indices = [(x + y) % 4 for y in range(h) for x in range(w)]
        got = V.decode_vp8l(self._palette_stream(w, h, palette, indices))
        assert got[:3] == (w, h, 4)
        for i, idx in enumerate(indices):
            p = palette[idx]
            assert got[3][4 * i : 4 * i + 4] == bytes(
                ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, 255)
            )

    def test_palette_unbundled_20_colors(self):
        w, h = 5, 4
        palette = [0xFF000000 | (i * 12 << 16) | (i * 7 << 8) | i for i in range(20)]
        indices = [(x * y + x) % 20 for y in range(h) for x in range(w)]
        got = V.decode_vp8l(self._palette_stream(w, h, palette, indices))
        for i, idx in enumerate(indices):
            p = palette[idx]
            assert got[3][4 * i : 4 * i + 3] == bytes(
                ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
            )

    def test_lz77_plain_distance_and_color_cache(self):
        # pixels: A B, then copy 4 @ distance 2 -> A B A B A B,
        # then a cache hit on A -> 7 pixels total (w=7, h=1)
        A = 0xFF112233
        B = 0xFF445566
        w, h = 7, 1
        cache_bits = 4
        idxA = ((_CACHE_MULT * A) & 0xFFFFFFFF) >> (32 - cache_bits)
        g_syms = [0x22, 0x55, 256 + 3, 280 + idxA]  # literals, len-4, cache
        bw = _BitWriter()
        _header(bw, w, h)
        bw.write(0, 1)  # no transforms
        bw.write(1, 1)
        bw.write(cache_bits, 4)
        bw.write(0, 1)  # no meta prefix
        freq = lambda vals: {v: vals.count(v) for v in vals}
        g_len = _huffman_lengths(freq(g_syms), 256 + 24 + (1 << cache_bits))
        r_len = _huffman_lengths({0x11: 1, 0x44: 1}, 256)
        b_len = _huffman_lengths({0x33: 1, 0x66: 1}, 256)
        a_len = _huffman_lengths({0xFF: 2}, 256)
        d_len = _huffman_lengths({13: 1}, 40)  # dist value 122 -> code 13
        for lens in (g_len, r_len, b_len, a_len, d_len):
            _write_tree(bw, lens)
        gc = _canonical_codes(g_len)
        rc = _canonical_codes(r_len)
        bc = _canonical_codes(b_len)
        # literal A
        bw.write_code(*gc[0x22])
        bw.write_code(*rc[0x11])
        bw.write_code(*bc[0x33])
        # literal B
        bw.write_code(*gc[0x55])
        bw.write_code(*rc[0x44])
        bw.write_code(*bc[0x66])
        # copy: length 4 = prefix code 3 (no extra bits)
        bw.write_code(*gc[256 + 3])
        # distance value 122: code 13, extra 5 bits = 122-1-96 = 25
        bw.write(25, 5)  # single-symbol distance tree consumes 0 code bits
        # cache reference to A
        bw.write_code(*gc[280 + idxA])
        got = V.decode_vp8l(bytes(bw.out))
        assert got[:3] == (w, h, 4)
        expect = [A, B, A, B, A, B, A]
        for i, p in enumerate(expect):
            assert got[3][4 * i : 4 * i + 4] == bytes(
                ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, 255)
            )


# The literal RFC 9649 distance-map table, (dx, dy) per distance code
# 1..120 — kept verbatim here as the ground truth the generated
# closed-form table in operators/vp8l must reproduce entry-for-entry.
_SPEC_DIST_TABLE = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class TestTransforms:
    def test_distance_map_matches_spec_table(self):
        assert list(V._DIST_MAP) == _SPEC_DIST_TABLE

    def test_predictor_roundtrip_every_mode(self):
        random.seed(11)
        for mode in range(14):
            w, h = random.randint(1, 17), random.randint(1, 13)
            ch = random.choice([3, 4])
            px = bytes(random.randrange(256) for _ in range(w * h * ch))
            got = V.decode_vp8l(
                FW.encode_vp8l(w, h, px, ch, transforms=[("predictor", mode)])
            )
            assert got[:3] == (w, h, 4)
            for i in range(w * h):
                assert got[3][4 * i : 4 * i + 3] == px[ch * i : ch * i + 3]
                assert got[3][4 * i + 3] == (px[ch * i + 3] if ch == 4 else 255)

    def test_color_transform_roundtrip(self):
        random.seed(12)
        for _ in range(10):
            w, h = random.randint(1, 15), random.randint(1, 12)
            deltas = tuple(random.randint(-128, 127) for _ in range(3))
            px = bytes(random.randrange(256) for _ in range(w * h * 3))
            got = V.decode_vp8l(
                FW.encode_vp8l(w, h, px, 3, transforms=[("color", deltas)])
            )
            for i in range(w * h):
                assert got[3][4 * i : 4 * i + 3] == px[3 * i : 3 * i + 3]

    def test_stacked_transforms_roundtrip(self):
        random.seed(13)
        for _ in range(6):
            w, h = random.randint(2, 14), random.randint(2, 11)
            px = bytes(random.randrange(256) for _ in range(w * h * 4))
            tr = ["subtract_green", ("predictor", random.randint(0, 13))]
            random.shuffle(tr)
            tr.append(("color", (random.randint(-128, 127), 3, -5)))
            got = V.decode_vp8l(FW.encode_vp8l(w, h, px, 4, transforms=tr))
            assert got[3] == px

    def test_select_is_strict_per_amended_spec(self):
        # pLeft (=Σ|T-TL|) strictly smaller -> left; ties -> top
        L = 0xFF000000 | (10 << 16)
        T = 0xFF000000 | (20 << 16)
        TL_eq = 0xFF000000 | (15 << 16)  # pLeft == pTop == 5
        assert V._select(L, T, TL_eq) == T
        TL_l = 0xFF000000 | (19 << 16)  # pLeft=1 < pTop=9
        assert V._select(L, T, TL_l) == L

    def test_clamp_half_truncates_toward_zero(self):
        # a=10, TL=13 -> d=-3: C trunc gives -1 (result 9); floor
        # division would give -2 (result 8)
        L = 0xFF000000 | (10 << 16)
        T = 0xFF000000 | (10 << 16)
        TL = 0xFF000000 | (13 << 16)
        assert (V._clamp_add_sub_half(L, T, TL) >> 16) & 0xFF == 9

    def test_avg2_per_channel(self):
        a = 0x01030507
        b = 0x02040608
        assert V._avg2(a, b) == 0x01030507  # floor((a+b)/2) per channel

    def test_predictor_border_rules(self):
        # direct kernel checks of the three border overrides plus the
        # rightmost-column TR rule (leftmost pixel of the current row)
        w = 3
        sub = [0xFF000000 | (3 << 8)]  # mode 3 = TR
        px = [0xFF000001, 0xFF000002, 0xFF000003,
              0xFF000004, 0xFF000005, 0xFF000006]
        assert V._predict(px, w, 0, 0, 9, sub, 1) == 0xFF000000  # (0,0)
        assert V._predict(px, w, 1, 0, 9, sub, 1) == px[0]       # top row: L
        assert V._predict(px, w, 0, 1, 9, sub, 1) == px[0]       # left col: T
        assert V._predict(px, w, 1, 1, 9, sub, 1) == px[2]       # TR normal
        assert V._predict(px, w, 2, 1, 9, sub, 1) == px[3]       # TR wraps
        # end-to-end: all-zero residuals under mode 2 stay black
        blob = FW.encode_vp8l(
            3, 2, bytes([0, 0, 0]) * 6, 3, transforms=[("predictor", 2)]
        )
        assert V.decode_vp8l(blob)[3] == bytes([0, 0, 0, 255]) * 6

    def _mapped_copy_stream(self, w, h, literals, length_sym, dist_sym,
                            dist_extra=None):
        """Literal pixels then ONE LZ77 copy via a mapped distance."""
        bw = _BitWriter()
        _header(bw, w, h)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(0, 1)  # no meta
        g_syms = [((p >> 8) & 0xFF) for p in literals] + [256 + length_sym]
        freq = lambda vals: {v: vals.count(v) for v in vals}
        g_len = _huffman_lengths(freq(g_syms), 280)
        r_len = _huffman_lengths(freq([(p >> 16) & 0xFF for p in literals]), 256)
        b_len = _huffman_lengths(freq([p & 0xFF for p in literals]), 256)
        a_len = _huffman_lengths(freq([(p >> 24) & 0xFF for p in literals]), 256)
        d_len = _huffman_lengths({dist_sym: 1}, 40)
        for lens in (g_len, r_len, b_len, a_len, d_len):
            _write_tree(bw, lens)
        gc = _canonical_codes(g_len)
        rc = _canonical_codes(r_len)
        bc = _canonical_codes(b_len)
        ac = _canonical_codes(a_len)
        for p in literals:
            bw.write_code(*gc[(p >> 8) & 0xFF])
            if len(rc) > 1:
                bw.write_code(*rc[(p >> 16) & 0xFF])
            if len(bc) > 1:
                bw.write_code(*bc[p & 0xFF])
            if len(ac) > 1:
                bw.write_code(*ac[(p >> 24) & 0xFF])
        bw.write_code(*gc[256 + length_sym])
        # single-symbol distance tree consumes 0 code bits
        if dist_extra is not None:
            bw.write(*dist_extra)
        return bytes(bw.out)

    def test_mapped_distance_row_copy(self):
        # distance code 1 -> (0,1) -> dist = xsize: row 2 copies row 1
        w, h = 4, 2
        lits = [0xFF000000 | (c << 16) | ((c + 1) << 8) | (c + 2)
                for c in (10, 40, 70, 100)]
        blob = self._mapped_copy_stream(
            w, h, lits, length_sym=3, dist_sym=0  # len 4, dist value 1
        )
        got = V.decode_vp8l(blob)
        expect = lits + lits
        for i, p in enumerate(expect):
            assert got[3][4 * i : 4 * i + 4] == bytes(
                ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, 255)
            )

    def test_mapped_distance_clamps_to_one(self):
        # code 80 -> (-7, 1): with xsize=4 the raw dist is -3, clamped
        # to 1, so the copy repeats the previous pixel
        w, h = 4, 1
        A = 0xFF102030
        B = 0xFF405060
        # dist value 80: prefix sym 12 (offset 64, 5 extra bits), extra 15
        blob = self._mapped_copy_stream(
            w, h, [A, B], length_sym=1, dist_sym=12, dist_extra=(15, 5)
        )
        got = V.decode_vp8l(blob)
        expect = [A, B, B, B]
        for i, p in enumerate(expect):
            assert got[3][4 * i : 4 * i + 4] == bytes(
                ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, 255)
            )

    def test_meta_prefix_groups(self):
        # 8x2 image, meta block 4 px: left half group 0, right group 1;
        # every per-group tree is single-symbol, so the pixel data
        # consumes zero bits and the output is decided by the groups
        w, h = 8, 2
        bw = _BitWriter()
        _header(bw, w, h)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(1, 1)  # meta prefix codes present
        bw.write(0, 3)  # meta_bits = 2 -> block 4
        # meta image 2x1: group ids 0 and 1 in (red<<8)|green
        _write_literal_image(
            bw, [0xFF000000, 0xFF000100], is_main=False
        )
        for g, r, b, a in ((0x10, 0x20, 0x30, 0xFF), (0x50, 0x60, 0x70, 0x80)):
            for lens in (
                _huffman_lengths({g: 1}, 280),
                _huffman_lengths({r: 1}, 256),
                _huffman_lengths({b: 1}, 256),
                _huffman_lengths({a: 1}, 256),
                [0] * 40,
            ):
                _write_tree(bw, lens)
        got = V.decode_vp8l(bytes(bw.out))
        assert got[:3] == (w, h, 4)
        for y in range(h):
            for x in range(w):
                i = y * w + x
                exp = (
                    bytes((0x20, 0x10, 0x30, 0xFF))
                    if x < 4
                    else bytes((0x60, 0x50, 0x70, 0x80))
                )
                assert got[3][4 * i : 4 * i + 4] == exp

    def test_duplicate_transform_raises(self):
        bw = _BitWriter()
        _header(bw, 4, 4)
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN again
        with pytest.raises(ValueError, match="duplicate"):
            V.decode_vp8l(bytes(bw.out) + b"\x00" * 8)


class TestErrorEdges:
    def test_lossy_vp8_raises(self):
        body = b"WEBPVP8 " + b"\x00\x00\x00\x00" + b"\x00" * 16
        blob = b"RIFF" + len(body).to_bytes(4, "little") + body
        with pytest.raises(NotImplementedError, match="lossy"):
            V.decode_webp(blob)

    def test_truncated_and_garbage_raise_valueerror(self):
        px = bytes((i * 31) % 256 for i in range(8 * 8 * 3))
        payload = FW.encode_vp8l(8, 8, px, 3)
        with pytest.raises(ValueError):
            V.decode_vp8l(payload[: len(payload) // 2])
        with pytest.raises(ValueError):
            V.decode_webp(b"not a webp at all")
        with pytest.raises(ValueError):
            V.decode_vp8l(b"\x00" + payload[1:])  # bad signature

    def test_feature_extract_skips_lossy_rows(self, spark):
        good = FW.encode_webp_lossless(3, 3, bytes([5] * 27), 3)
        body = b"WEBPVP8 " + b"\x00\x00\x00\x00" + b"\x00" * 16
        lossy = b"RIFF" + len(body).to_bytes(4, "little") + body
        df = spark.createDataFrame(
            [("ok", bytearray(good)), ("lossy", bytearray(lossy))],
            "media_id string, blob binary",
        )
        got = {r.media_id: r.feature for r in mm.extract_features(df).collect()
               if r.feature in ("width", "decode_unavailable")}
        assert got == {"ok": "width", "lossy": "decode_unavailable"}
