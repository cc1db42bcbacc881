"""FLAC codec tests — encoder roundtrips plus HAND-BUILT frames for
the decoder-only paths the fixture encoder never emits (LPC subframes,
stereo decorrelation, escape partitions, partition order > 0, wasted
bits) and the CRC/truncation error contract."""

from __future__ import annotations

import random
import struct

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import multimodal as mm
from cmc_knowledge_graph_text2ttl_spark.operators.flac import (
    _crc8,
    _crc16,
    decode_flac,
)
import fixture_writers as FW
from fixture_writers import _BitWriterMSB, _write_rice, encode_flac


def _streaminfo(rate, channels, bps, total, block=256):
    bits = (rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | total
    body = (
        struct.pack(">HH", block, block)
        + b"\x00\x00\x00" * 2
        + bits.to_bytes(8, "big")
        + b"\x00" * 16
    )
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _frame_header(bw, nb, ch_code, bps_code=4, rate_code=9):
    bw.write(0x3FFE, 14)
    bw.write(0, 2)  # reserved + fixed blocksize
    bw.write(7, 4)  # 16-bit blocksize follows
    bw.write(rate_code, 4)
    bw.write(ch_code, 4)
    bw.write(bps_code, 3)
    bw.write(0, 1)
    bw.write(0, 8)  # frame 0
    bw.write(nb - 1, 16)
    bw.write(_crc8(bytes(bw.out)), 8)


def _finish_frame(bw):
    bw.align()
    bw.write(_crc16(bytes(bw.out)), 16)
    return bytes(bw.out)


class TestRoundtrip:
    def test_all_subframe_kinds_and_layouts(self):
        random.seed(11)
        for ch in (1, 2):
            for kind in ("verbatim", "constant", "fixed1", "fixed2"):
                if kind == "constant":
                    v = [1234] * (500 * ch)
                else:
                    v = [random.randrange(-30000, 30000)
                         for _ in range(500 * ch)]
                blob = encode_flac(v, 44100, channels=ch,
                                   block_size=200, subframe=kind)
                c, r, nf, s = decode_flac(blob)
                assert (c, r, nf) == (ch, 44100, 500)
                assert s == v, (ch, kind)

    def test_non_table_rate_follow_up(self):
        v = [((i * 17) % 2003) - 1001 for i in range(300)]
        for rate in (8000, 22050, 11025):
            c, r, _, s = decode_flac(
                encode_flac(v, rate, block_size=128, subframe="fixed1"))
            assert r == rate and s == v

    def test_audio_dispatcher_and_fingerprint_parity(self):
        from cmc_knowledge_graph_text2ttl_spark.operators.perceptual import (
            audio_dhash_bands,
        )

        v = [((5 * 31 + i * 17) % 2003) - 1001 for i in range(400)]
        wav = FW.encode_wav(v, 8000, 1)
        flac = encode_flac(v, 8000, channels=1, subframe="fixed2")
        cw = mm.decode_audio(wav)
        cf = mm.decode_audio(flac)
        assert list(cw[3]) == cf[3]
        assert audio_dhash_bands(cw[0], cw[3]) == audio_dhash_bands(
            cf[0], cf[3])

    def test_audio_features_flac_row(self, spark):
        v = [100, -100] * 200
        blob = encode_flac(v, 8000, channels=1)
        df = spark.createDataFrame(
            [("f", bytearray(blob)), ("junk", bytearray(b"xx"))],
            "media_id string, blob binary")
        got = {r.media_id: r for r in mm.audio_features(df).collect()}
        assert got["f"].n_samples == 400 and got["f"].peak_abs == 100
        assert got["f"].zero_crossings == 399
        assert got["junk"].error is not None


class TestHandBuiltFrames:
    def test_lpc_subframe(self):
        # order-2 LPC with coefs [3, -1] shift 1: s[i] = (3*s[i-1] -
        # s[i-2]) >> 1 + r
        warm = [100, 110]
        resid = [5, -3, 0, 7, -2, 1]
        nb = len(warm) + len(resid)
        bw = _BitWriterMSB()
        _frame_header(bw, nb, ch_code=0)
        bw.write(0, 1)
        bw.write(32 + 1, 6)  # LPC order 2 (code 0b100000 | (order-1))
        bw.write(0, 1)  # no wasted bits
        for w in warm:
            bw.write(w & 0xFFFF, 16)
        bw.write(14, 4)  # precision 15
        bw.write(1, 5)  # shift 1
        bw.write(3 & 0x7FFF, 15)
        bw.write((-1) & 0x7FFF, 15)
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(6, 4)  # rice param
        _write_rice(bw, resid, 6)
        blob = _streaminfo(44100, 1, 16, nb) + _finish_frame(bw)
        c, r, nf, s = decode_flac(blob)
        expect = list(warm)
        for rr in resid:
            expect.append(((3 * expect[-1] - expect[-2]) >> 1) + rr)
        assert s == expect

    def _stereo_frame(self, ch_code, a, b, extra_bits):
        nb = len(a)
        bw = _BitWriterMSB()
        _frame_header(bw, nb, ch_code=ch_code)
        for ch, extra in ((a, extra_bits[0]), (b, extra_bits[1])):
            bw.write(0, 1)
            bw.write(1, 6)  # verbatim
            bw.write(0, 1)
            for sv in ch:
                bw.write(sv & ((1 << (16 + extra)) - 1), 16 + extra)
        return _streaminfo(44100, 2, 16, nb) + _finish_frame(bw)

    def test_left_side_and_right_side(self):
        left = [100, -50, 3000, 7]
        right = [90, -60, 2990, -7]
        side = [l - r for l, r in zip(left, right)]
        # left/side (code 8): channels stored = left, side(+1 bit)
        blob = self._stereo_frame(8, left, side, (0, 1))
        c, r, nf, s = decode_flac(blob)
        assert s == [x for pair in zip(left, right) for x in pair]
        # right/side (code 9): stored = side(+1 bit), right
        blob = self._stereo_frame(9, side, right, (1, 0))
        assert decode_flac(blob)[3] == [
            x for pair in zip(left, right) for x in pair]

    def test_mid_side(self):
        left = [101, -49, 2999, 8]
        right = [90, -60, 2990, -7]
        mid = [(l + r) >> 1 for l, r in zip(left, right)]
        side = [l - r for l, r in zip(left, right)]
        blob = self._stereo_frame(10, mid, side, (0, 1))
        assert decode_flac(blob)[3] == [
            x for pair in zip(left, right) for x in pair]

    def test_escape_partition_and_partition_order(self):
        # fixed order 1, partition order 1 (2 partitions): first rice,
        # second escaped to 7-bit raw
        nb = 8
        warm = [10]
        r1 = [1, -2, 3]          # partition 1: nb/2 - order = 3
        r2 = [40, -50, 60, -7]   # partition 2: nb/2 = 4
        bw = _BitWriterMSB()
        _frame_header(bw, nb, ch_code=0)
        bw.write(0, 1)
        bw.write(8 + 1, 6)  # fixed order 1
        bw.write(0, 1)
        bw.write(warm[0] & 0xFFFF, 16)
        bw.write(0, 2)   # rice 4-bit params
        bw.write(1, 4)   # partition order 1
        bw.write(4, 4)   # param 4
        _write_rice(bw, r1, 4)
        bw.write(15, 4)  # escape
        bw.write(7, 5)   # 7-bit raw residuals
        for v in r2:
            bw.write(v & 0x7F, 7)
        blob = _streaminfo(44100, 1, 16, nb) + _finish_frame(bw)
        s = decode_flac(blob)[3]
        expect = list(warm)
        for rr in r1 + r2:
            expect.append(expect[-1] + rr)
        assert s == expect

    def test_wasted_bits(self):
        # constant subframe with 2 wasted bits: stored value is
        # pre-shifted right; decoder shifts back left
        nb = 4
        bw = _BitWriterMSB()
        _frame_header(bw, nb, ch_code=0)
        bw.write(0, 1)
        bw.write(0, 6)   # constant
        bw.write(1, 1)   # wasted-bits flag
        bw.write(1, 2)   # unary 1 -> wasted = 2
        bw.write(25 & 0x3FFF, 14)  # 16 - 2 effective bits
        blob = _streaminfo(44100, 1, 16, nb) + _finish_frame(bw)
        assert decode_flac(blob)[3] == [100] * nb  # 25 << 2


class TestErrors:
    def test_crc8_and_crc16_mismatch_raise(self):
        v = [((i * 17) % 2003) - 1001 for i in range(256)]
        blob = bytearray(encode_flac(v, 44100, block_size=128))
        # flip a byte inside the first frame header (after fLaC + 4 +
        # 34-byte STREAMINFO = offset 42; header starts there)
        hdr_off = 4 + 4 + 34
        blob[hdr_off + 3] ^= 0x01
        with pytest.raises(ValueError, match="CRC-8|sync|UTF-8"):
            decode_flac(bytes(blob))
        blob = bytearray(encode_flac(v, 44100, block_size=128))
        blob[-20] ^= 0x40  # audio payload byte -> CRC-16 must catch
        with pytest.raises(ValueError, match="CRC|truncated|FLAC"):
            decode_flac(bytes(blob))

    def test_truncation_sweep_never_escapes(self):
        v = [((i * 17) % 2003) - 1001 for i in range(300)]
        blob = encode_flac(v, 44100, block_size=128, subframe="fixed1")
        for cut in range(0, len(blob), 11):
            try:
                decode_flac(blob[:cut])
            except ValueError:
                pass  # the only allowed failure mode

    def test_not_flac_raises(self):
        with pytest.raises(ValueError, match="not a FLAC"):
            decode_flac(b"RIFFxxxxWAVE")
        with pytest.raises(NotImplementedError, match="audio decoder"):
            mm.decode_audio(b"OggS" + b"\x00" * 40)
