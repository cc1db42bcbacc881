"""Baseline JPEG codec (operators/jpeg.py): marker parse, Huffman
entropy coding, dequant/zigzag, IDCT, color conversion."""

import numpy as np
import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import jpeg as J
from cmc_knowledge_graph_text2ttl_spark.operators import multimodal as mm
import fixture_writers as FW


def _ref_plane(blocks, q, bw, bh, h_img, w_img):
    """Independent reconstruction: dequant → IDCT per block → crop."""
    out = np.zeros((bh * 8, bw * 8))
    qm = np.array(q, float).reshape(8, 8)
    for i, blk in enumerate(blocks):
        by, bx = divmod(i, bw)
        coef = np.array(blk, float).reshape(8, 8) * qm
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = J._C.T @ coef @ J._C
    return out[:h_img, :w_img]


def _rand_blocks(rng, n, dense=0.3):
    out = []
    for _ in range(n):
        b = rng.randint(-25, 26, 64) * (rng.rand(64) < dense)
        b[0] = rng.randint(-110, 111)
        out.append([int(x) for x in b])
    return out


class TestGrayscale:
    def test_dc_only_solid_blocks_exact(self):
        blocks = [[-28] + [0] * 63, [72] + [0] * 63]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_blocks(16, 8, blocks))
        a = np.frombuffer(px, np.uint8).reshape(8, 16)
        assert (w, h, ch) == (16, 8, 1)
        assert (a[:, :8] == 100).all() and (a[:, 8:] == 200).all()

    def test_random_blocks_match_independent_idct(self):
        rng = np.random.RandomState(42)
        for _ in range(15):
            bw, bh = rng.randint(1, 5), rng.randint(1, 4)
            w_img = bw * 8 - rng.randint(0, 8)
            h_img = bh * 8 - rng.randint(0, 8)
            q = [8] + [int(x) for x in rng.randint(1, 20, 63)]
            blocks = _rand_blocks(rng, bw * bh, dense=rng.rand())
            w, h, ch, px = J.decode_jpeg(
                FW.encode_jpeg_blocks(w_img, h_img, blocks, quant=q)
            )
            got = np.frombuffer(px, np.uint8).reshape(h, w)
            ref = np.clip(
                np.floor(_ref_plane(blocks, q, bw, bh, h_img, w_img) + 128.5),
                0, 255,
            )
            assert (got == ref).all()

    def test_coefficient_63_ends_block_without_eob(self):
        # regression: an extra EOB after a coded coefficient 63
        # desynchronizes the next block's DC
        full = [1] * 64
        blocks = [full, [0] * 64]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_blocks(16, 8, blocks))
        a = np.frombuffer(px, np.uint8).reshape(8, 16)
        assert (a[:, 8:] == 128).all()  # second block stays neutral


class TestColor:
    def test_solid_ycbcr_conversion_exact(self):
        def conv(yv, cbv, crv):
            y = yv + 128.0
            r = y + 1.402 * crv
            g = y - 0.344136 * cbv - 0.714136 * crv
            b = y + 1.772 * cbv
            return [int(np.clip(np.floor(x + 0.5), 0, 255)) for x in (r, g, b)]

        yb = [[10] + [0] * 63]
        cb = [[5] + [0] * 63]
        cr = [[-9] + [0] * 63]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_ycbcr444(8, 8, yb, cb, cr))
        a = np.frombuffer(px, np.uint8).reshape(8, 8, 3)
        assert (w, h, ch) == (8, 8, 3)
        assert (a == conv(10, 5, -9)).all()

    def test_random_color_blocks_match(self):
        rng = np.random.RandomState(5)
        bw, bh, w_img, h_img = 2, 2, 13, 11
        yb, cbb, crb = (_rand_blocks(rng, 4) for _ in range(3))
        q = [8] + [int(x) for x in rng.randint(1, 16, 63)]
        w, h, ch, px = J.decode_jpeg(
            FW.encode_jpeg_ycbcr444(w_img, h_img, yb, cbb, crb, quant=q)
        )
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(float)
        y = _ref_plane(yb, q, bw, bh, h_img, w_img) + 128.0
        cb = _ref_plane(cbb, q, bw, bh, h_img, w_img)
        cr = _ref_plane(crb, q, bw, bh, h_img, w_img)
        ref = np.stack(
            [
                np.clip(np.floor(y + 1.402 * cr + 0.5), 0, 255),
                np.clip(
                    np.floor(y - 0.344136 * cb - 0.714136 * cr + 0.5), 0, 255
                ),
                np.clip(np.floor(y + 1.772 * cb + 0.5), 0, 255),
            ],
            axis=-1,
        )
        assert (got == ref).all()


class TestSubsampling:
    def test_420_solid_blocks_and_upsampling(self):
        # 16x16 → 1 MCU: 4 distinct solid Y blocks, one Cb, one Cr.
        # Chroma is upsampled 2x2, so every pixel's (Cb, Cr) is the
        # same; per-quadrant Y differs.
        def conv(yv, cbv, crv):
            y = yv + 128.0
            r = y + 1.402 * crv
            g = y - 0.344136 * cbv - 0.714136 * crv
            b = y + 1.772 * cbv
            return [int(np.clip(np.floor(x + 0.5), 0, 255)) for x in (r, g, b)]

        yb = [[v] + [0] * 63 for v in (10, -40, 60, -90)]
        cb = [[6] + [0] * 63]
        cr = [[-12] + [0] * 63]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_ycbcr420(16, 16, yb, cb, cr))
        a = np.frombuffer(px, np.uint8).reshape(16, 16, 3)
        assert (w, h, ch) == (16, 16, 3)
        assert (a[:8, :8] == conv(10, 6, -12)).all()
        assert (a[:8, 8:] == conv(-40, 6, -12)).all()
        assert (a[8:, :8] == conv(60, 6, -12)).all()
        assert (a[8:, 8:] == conv(-90, 6, -12)).all()

    def test_420_cropped_dims(self):
        # 20x12 → still 1 MCU wide? no: mcus_x=2, mcus_y=1; crop to 20x12
        yb = [[i] + [0] * 63 for i in range(8)]
        cb = [[0] + [0] * 63, [0] + [0] * 63]
        cr = [[0] + [0] * 63, [0] + [0] * 63]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_ycbcr420(20, 12, yb, cb, cr))
        assert (w, h, ch) == (20, 12, 3)
        a = np.frombuffer(px, np.uint8).reshape(12, 20, 3)
        # top-left Y block is 0 → gray 128 everywhere in that quadrant
        assert (a[:8, :8, 0] == 128).all()

    def test_420_block_count_mismatch_raises(self):
        with pytest.raises(ValueError):
            FW.encode_jpeg_ycbcr420(16, 16, [[0] * 64] * 3, [[0] * 64], [[0] * 64])


class TestRobustness:
    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            J.decode_jpeg(b"not a jpeg")

    def test_truncated_and_tableless_raise_valueerror_not_index_key(self):
        # regression: these used to escape as IndexError/KeyError past
        # the per-row error containment in extract_features
        blob = FW.encode_jpeg_blocks(16, 16, [[5] + [0] * 63] * 4)
        with pytest.raises(ValueError):
            J.decode_jpeg(blob[:-6])  # truncated mid-scan
        at = blob.index(b"\xff\xc4")  # drop the DHT segment
        (seglen,) = __import__("struct").unpack(">H", blob[at + 2 : at + 4])
        with pytest.raises(ValueError):
            J.decode_jpeg(blob[:at] + blob[at + 2 + seglen :])

    def test_corrupt_jpeg_becomes_error_row_in_features(self, spark):
        good = FW.encode_jpeg_blocks(8, 8, [[-28] + [0] * 63])
        df = spark.createDataFrame(
            [("ok", bytearray(good)), ("bad", bytearray(good[:-6]))],
            "media_id string, blob binary",
        )
        feats = {}
        for r in mm.extract_features(df).collect():
            feats.setdefault(r.media_id, set()).add(r.feature)
        assert "mean_c0" in feats["ok"]
        assert feats["bad"] == {"decode_error"}

    def test_baseline_scan_under_sof2_header_is_error(self):
        # a baseline full-band scan (Ss=0 Se=63) is illegal in a
        # progressive file: must be a contained error, not a crash
        blob = bytearray(FW.encode_jpeg_blocks(8, 8, [[0] * 64]))
        at = blob.index(b"\xff\xc0")
        blob[at + 1] = 0xC2  # SOF2 progressive
        with pytest.raises(ValueError, match="mixes DC and AC"):
            J.decode_jpeg(bytes(blob))

    def test_block_count_mismatch_raises(self):
        with pytest.raises(ValueError):
            FW.encode_jpeg_blocks(16, 16, [[0] * 64])

    def test_decode_image_dispatches_jpeg(self):
        blob = FW.encode_jpeg_blocks(8, 8, [[-28] + [0] * 63])
        w, h, ch, px = mm.decode_image(blob)
        assert (w, h, ch) == (8, 8, 1) and px == bytes([100] * 64)

    def test_header_sniff_agrees_with_decode(self):
        blob = FW.encode_jpeg_blocks(24, 16, [[0] * 64] * 6)
        assert mm.sniff_media(blob) == ("image", "jpeg", 24, 16)


def _blk(dc=0, **ac):
    """Block from natural-order {zigzag_index: value} AC pairs."""
    b = [0] * 64
    b[0] = dc
    for k, v in ac.items():
        b[J.ZIGZAG[int(k[1:])]] = v
    return b


class TestProgressive:
    """SOF2: the progressive fixture must decode bit-identically to the
    baseline encoding of the same quantized blocks."""

    def _assert_equal(self, w, h, blocks):
        base = J.decode_jpeg(FW.encode_jpeg_blocks(w, h, blocks))
        prog = J.decode_jpeg(FW.encode_jpeg_progressive(w, h, blocks))
        assert base == prog

    def test_dc_only_blocks(self):
        self._assert_equal(24, 8, [_blk(dc=d) for d in (-40, 0, 37)])

    def test_negative_odd_dc_survives_refinement(self):
        # DC first sends dc>>1, refine ORs the low bit: -5 must rebuild
        self._assert_equal(8, 8, [_blk(dc=-5)])

    def test_mixed_ac_with_eob_runs(self):
        blocks = [
            _blk(dc=10, k1=15, k5=-7, k63=3),   # coded coef 63: no EOB
            _blk(dc=-3),                          # EOB-run start
            _blk(dc=0),                           # consecutive: eobrun 2
            _blk(dc=5, k2=1, k3=-1),              # ±1 ACs: refine-only path
            _blk(dc=0, k40=21),                   # deep ZRL in first scan
            _blk(dc=1, k1=2, k30=1),              # correction + new bit mix
        ]
        self._assert_equal(24, 16, blocks)

    def test_zrl_in_refinement_scan(self):
        # newly-significant coefficient after >16 zero-HISTORY gaps with
        # an already-significant one interleaved — the libjpeg buffering
        # subtlety (correction bits flushed with the right symbol)
        blocks = [_blk(dc=0, k2=9, k30=1, k50=1), _blk(dc=0, k20=1)]
        self._assert_equal(16, 8, blocks)

    def test_partial_mcu_dimensions(self):
        self._assert_equal(20, 12, [_blk(dc=d, k3=d % 5) for d in range(6)])

    def test_color_444_interleaved_dc_scans(self):
        y = [_blk(dc=d, k1=d) for d in (8, -8, 16, -16, 0, 24)]
        cb = [_blk(dc=3)] + [_blk()] * 4 + [_blk(dc=-3, k5=2)]
        cr = [_blk(dc=-11, k2=-1)] + [_blk()] * 5
        base = J.decode_jpeg(FW.encode_jpeg_ycbcr444(24, 16, y, cb, cr))
        prog = J.decode_jpeg(FW.encode_jpeg_progressive_ycbcr444(24, 16, y, cb, cr))
        assert base == prog

    def test_sniff_and_decode_image_dispatch(self):
        blob = FW.encode_jpeg_progressive(8, 8, [_blk(dc=-28)])
        assert mm.sniff_media(blob) == ("image", "jpeg", 8, 8)
        w, h, ch, px = mm.decode_image(blob)
        assert (w, h, ch) == (8, 8, 1) and px == bytes([100] * 64)

    def test_truncated_progressive_is_valueerror(self):
        blob = FW.encode_jpeg_progressive(8, 8, [_blk(dc=12, k1=5)])
        with pytest.raises(ValueError):
            J.decode_jpeg(blob[: len(blob) // 2])

    def test_fixture_deterministic(self):
        blocks = [_blk(dc=7, k9=-2)]
        assert FW.encode_jpeg_progressive(8, 8, blocks) == FW.encode_jpeg_progressive(
            8, 8, blocks
        )


class TestCmyk:
    """4-component Adobe JPEGs (APP14): direct CMYK and YCCK."""

    @staticmethod
    def _dc(vals):
        return [[v] + [0] * 63 for v in vals]

    def test_direct_cmyk_planes_pack_as_stored(self):
        blocks = [self._dc([10, -10]), self._dc([5, 5]),
                  self._dc([0, 1]), self._dc([-3, 4])]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_cmyk(16, 8, blocks))
        assert (w, h, ch) == (16, 8, 4)
        assert px[0:4] == bytes([138, 133, 128, 125])
        assert px[8 * 4:8 * 4 + 4] == bytes([118, 133, 129, 132])

    def test_ycck_transform_inverts_through_ycbcr(self):
        import math

        blocks = [self._dc([10]), self._dc([5]),
                  self._dc([0]), self._dc([-3])]
        w, h, ch, px = J.decode_jpeg(FW.encode_jpeg_cmyk(8, 8, blocks, ycck=True))
        assert ch == 4
        y, cb, cr = 138.0, 5.0, 0.0
        exp = [
            math.floor(255 - (y + 1.402 * cr) + 0.5),
            math.floor(255 - (y - 0.344136 * cb - 0.714136 * cr) + 0.5),
            math.floor(255 - (y + 1.772 * cb) + 0.5),
            125,
        ]
        assert list(px[0:4]) == exp

    def test_two_component_jpeg_rejected(self):
        blob = bytearray(FW.encode_jpeg_cmyk(
            8, 8, [self._dc([0])] * 4))
        # patch SOF ncomp down to 2 and truncate its component list
        i = bytes(blob).find(b"\xff\xc0")
        assert i > 0
        import struct as _s
        blob[i + 2:i + 4] = _s.pack(">H", 2 + 6 + 2 * 3)
        blob[i + 9] = 2
        del blob[i + 10 + 6:i + 10 + 12]
        with pytest.raises(ValueError, match="components"):
            J.decode_jpeg(bytes(blob))
