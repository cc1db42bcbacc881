"""Adversarial robustness sweep over the byte-level parsers: every
truncation and a byte-flip grid of a valid fixture must either parse or
raise a normal exception — never hang, recurse infinitely, or allocate
unboundedly. Document readers may raise any exception (extract_one
contains them all); media decoders, run through the dispatcher of their
kind, may raise only ValueError or NotImplementedError (MEDIA_ERRORS,
the two errors every media consumer catches per row). Deterministic, no
hypothesis needed: the grids are exhaustive over truncation points and
dense over flips."""

import struct

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import multimodal as mm
from cmc_knowledge_graph_text2ttl_spark.operators.malformed import MEDIA_ERRORS
from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
import fixture_writers as FW
from fixture_writers import make_doc


def _sweep(blob: bytes, step: int = 7):
    """Yield truncations (every ``step`` bytes) and single-byte flips."""
    for cut in range(0, len(blob), step):
        yield blob[:cut]
    for pos in range(0, len(blob), step):
        flipped = bytearray(blob)
        flipped[pos] ^= 0xA5
        yield bytes(flipped)


FIXTURES = [
    ("rtf", lambda: FW.make_rtf(["para one", [["a", "b"]], "two"])),
    ("odt", lambda: FW.make_odt([(1, "T"), "p", [["x", "y"]]])),
    ("doc", lambda: make_doc(["alpha", "beta gamma"])),
    ("xls", lambda: FW.make_xls([("S", [["a", 1, None, "b"]])],
                                sst_continue_split=True)),
    ("ppt", lambda: FW.make_ppt(["one\rtwo", "three"])),
]


@pytest.mark.parametrize("name,builder", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_extract_one_never_escapes(name, builder):
    blob = builder()
    ok = err = 0
    for variant in _sweep(blob):
        text, _ctype, e = extract_one(variant)
        if e is None and text is not None:
            ok += 1
        else:
            err += 1
    # the pristine blob must be among the successes
    text, _, e = extract_one(blob)
    assert e is None and text
    assert ok + err > 0


@pytest.mark.parametrize(
    "name,builder",
    [
        ("png_adam7", lambda: FW.encode_png_ex(
            13, 7, bytes(13 * 7 * 3), 3, interlace=True)),
        ("png_pal4", lambda: FW.encode_png_ex(
            9, 5, bytes([1] * 45), palette=bytes(48), bit_depth=4,
            trns=bytes([7, 8]))),
        ("bmp", lambda: FW.encode_bmp(9, 5, bytes(9 * 5 * 3), 3)),
        ("tiff", lambda: FW.encode_tiff(9, 5, bytes(9 * 5 * 3), 3)),
        ("webp_vp8l", lambda: FW.encode_webp_lossless(
            9, 5, bytes((i * 13) % 256 for i in range(9 * 5 * 3)), 3)),
        ("tiff_lzw_pred", lambda: FW.encode_tiff(
            9, 5, bytes((i * 7) % 256 for i in range(9 * 5 * 3)), 3,
            compression="lzw", predictor=True)),
        ("jpeg", lambda: FW.encode_jpeg_blocks(
            9, 5, [[1] + [3] * 5 + [0] * 58, [-20] + [0] * 63])),
        ("gif", lambda: FW.encode_gif(
            9, 5, [i % 4 for i in range(45)],
            [(0, 0, 0), (90, 1, 1), (2, 200, 2), (3, 3, 255)])),
    ],
    ids=["png_adam7", "png_pal4", "bmp", "tiff", "webp_vp8l",
         "tiff_lzw_pred", "jpeg", "gif"],
)
def test_image_decoders_raise_cleanly(name, builder):
    blob = builder()
    assert mm.decode_image(blob)[0] == (13 if name == "png_adam7" else 9)
    for variant in _sweep(blob, step=5):
        try:
            mm.decode_image(variant)
        except MEDIA_ERRORS as ex:
            assert str(ex)  # message present


@pytest.mark.parametrize(
    "builder,decode,message",
    [
        (FW.encode_png_corrupt_idat, mm.decode_image, "corrupt PNG stream: error"),
        (FW.encode_jpeg_zero_sampling, mm.decode_image,
         "corrupt JPEG stream: ZeroDivisionError"),
        (lambda: FW.encode_avi_mjpeg(8, 8, [FW.encode_jpeg_zero_sampling()]),
         mm.decode_frames, "corrupt JPEG stream: ZeroDivisionError"),
    ],
    ids=["png_corrupt_idat", "jpeg_zero_sampling", "mjpeg_avi_zero_sampling"],
)
def test_codec_internal_errors_surface_as_value_error(builder, decode, message):
    """A corrupt IDAT fails inside zlib and a zero JPEG sampling factor
    divides by zero: both come out as ValueError, naming the format."""
    with pytest.raises(ValueError, match=message):
        decode(builder())


@pytest.mark.parametrize(
    "blob",
    [b"\xff\xd8\x00\x11" + bytes(40), b"BM" + bytes(20), b"\x00\x00\x01\x00\x01"],
    ids=["jpeg_soi_without_marker", "bmp_under_26_bytes", "ico_under_8_bytes"],
)
def test_blobs_sniff_media_rejects_are_unsupported_not_malformed(blob):
    """The decoder is picked from sniff_media's format, so a blob it does
    not recognize is NotImplementedError (extract_features'
    decode_unavailable), whatever its first bytes resemble."""
    assert mm.sniff_media(blob)[:2] == ("unknown", None)
    with pytest.raises(NotImplementedError, match="image decoder"):
        mm.decode_image(blob)


def test_exif_and_mp3_never_raise():
    exif = FW.encode_jpeg_exif(16, 9, orientation=3, make="M", model="X",
                               taken_at="2020:01:01 00:00:00")
    mp3 = FW.encode_mp3_header(128, 44100, id3_payload=64)
    for variant in _sweep(exif, step=3):
        assert isinstance(mm.parse_exif(variant), dict)
    for variant in _sweep(mp3, step=3):
        assert isinstance(mm.mp3_info(variant), dict)


class TestAllocationGuards:
    """Adversarial headers must raise before allocating attacker-sized
    buffers (one bad row would otherwise OOM the executor)."""

    def test_png_huge_ihdr_dims(self):
        blob = bytearray(FW.encode_png(4, 4, bytes(48), 3))
        struct.pack_into(">I", blob, 16, 2_000_000_000)  # IHDR width
        with pytest.raises(ValueError, match="out of range"):
            mm.decode_png(bytes(blob))

    def test_jpeg_huge_sof_dims(self):
        from cmc_knowledge_graph_text2ttl_spark.operators import jpeg as J

        blob = bytearray(FW.encode_jpeg_blocks(8, 8, [[1] + [0] * 63]))
        i = bytes(blob).find(b"\xff\xc0")
        struct.pack_into(">HH", blob, i + 5, 65535, 65535)  # h, w
        with pytest.raises(ValueError, match="out of range"):
            J.decode_jpeg(bytes(blob))

    def test_gif_huge_descriptor_dims(self):
        # valid 4x4 GIF, then blow up the image-descriptor dims
        idx = [0] * 16
        pal = [(0, 0, 0), (1, 1, 1), (2, 2, 2), (3, 3, 3)]
        blob = bytearray(FW.encode_gif(4, 4, idx, pal))
        i = bytes(blob).find(b"\x2c")  # image separator
        struct.pack_into("<HH", blob, i + 5, 65535, 65535)
        with pytest.raises(ValueError, match="out of range"):
            mm.decode_gif(bytes(blob))

    def test_gif_lzw_limit_stops_expansion(self):
        out = mm._gif_lzw_decode(
            FW._gif_lzw_encode([1, 2, 3] * 100, 2), 2, limit=10)
        assert len(out) <= 12  # limit + at most one entry's overshoot

    def test_bmp_huge_dims(self):
        blob = bytearray(FW.encode_bmp(4, 4, bytes(48), 3))
        struct.pack_into("<i", blob, 18, 2_000_000_000)
        with pytest.raises(ValueError, match="out of range"):
            mm.decode_bmp(bytes(blob))


def _anim_fixtures():
    from fixture_writers import encode_webp_anim

    solid = lambda w, h, px: bytes(px) * (w * h)  # noqa: E731
    return [
        ("apng", lambda: FW.encode_apng(8, 6, [
            (0, 0, 8, 6, solid(8, 6, (200, 10, 20, 255)), 0, 0),
            (2, 1, 4, 3, solid(4, 3, (5, 180, 30, 128)), 1, 1),
            (0, 0, 8, 6, solid(8, 6, (1, 2, 250, 255)), 2, 0),
        ])),
        ("webp_anim", lambda: encode_webp_anim(8, 4, [
            (0, 0, 8, 4, solid(8, 4, (40, 50, 60)), 3, 0, 0),
            (2, 2, 4, 2, solid(4, 2, (200, 100, 0)), 3, 1, 1),
        ])),
        ("aiff", lambda: FW.encode_aiff(
            2, 44100, [((i * 37) % 4001) - 2000 for i in range(64)], 16)),
        ("avi_dib", lambda: FW.encode_avi_rgb(
            5, 3, [bytes((i * 11) % 256 for i in range(45))])),
        ("mjpeg_avi", lambda: FW.encode_avi_mjpeg(8, 8, [
            FW.encode_jpeg_blocks(8, 8, [[v] + [2] * 3 + [0] * 60])
            for v in (-100, 7)])),
        ("gif_anim", lambda: FW.encode_gif_animated(4, 4, [
            {"indices": [1] * 16},
            {"indices": [2] * 4, "x0": 1, "y0": 1, "w": 2, "h": 2},
        ], [(0, 0, 0), (90, 1, 1), (2, 200, 2), (3, 3, 255)])),
        ("wav", lambda: FW.encode_wav(
            [((i * 37) % 4001) - 2000 for i in range(64)], 8000, 2)),
        ("flac", lambda: FW.encode_flac(
            [((i * 37) % 4001) - 2000 for i in range(256)], 44100,
            block_size=64, subframe="fixed2")),
    ]


@pytest.mark.parametrize(
    "name,builder", _anim_fixtures(), ids=[f[0] for f in _anim_fixtures()]
)
def test_round5_codecs_raise_cleanly(name, builder):
    """Truncation + byte-flip grid over the frame and audio codecs
    (APNG, animated WebP and GIF, DIB and MJPEG AVI; AIFF, WAV, FLAC),
    each through the dispatcher of its kind. Every variant must decode
    or raise ValueError/NotImplementedError — never hang or escape with
    a struct/Index/zlib error."""
    dec = mm.decode_audio if name in ("aiff", "wav", "flac") else mm.decode_frames
    blob = builder()
    out = dec(blob)
    assert out[0] > 0  # pristine blob decodes
    for variant in _sweep(blob, step=5):
        try:
            dec(variant)
        except MEDIA_ERRORS as ex:
            assert str(ex)
