"""Adversarial robustness sweep over the round-4 byte-level parsers:
every truncation and a byte-flip grid of a valid fixture must either
parse or raise a normal exception (per-row containment in extract_text
catches Exception) — never hang, recurse infinitely, or allocate
unboundedly. Deterministic, no hypothesis needed: the grids are
exhaustive over truncation points and dense over flips."""

import struct

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import multimodal as mm
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
    ],
    ids=["png_adam7", "png_pal4", "bmp", "tiff", "webp_vp8l",
         "tiff_lzw_pred"],
)
def test_image_decoders_raise_cleanly(name, builder):
    blob = builder()
    assert mm.decode_image(blob)[0] == (13 if name == "png_adam7" else 9)
    for variant in _sweep(blob, step=5):
        try:
            mm.decode_image(variant)
        except (ValueError, NotImplementedError) as ex:
            assert str(ex)  # message present
        except Exception as ex:  # zlib.error is contained by callers too
            import zlib

            assert isinstance(ex, zlib.error), (name, type(ex), ex)


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
    ]


@pytest.mark.parametrize(
    "name,builder", _anim_fixtures(), ids=[f[0] for f in _anim_fixtures()]
)
def test_round5_codecs_raise_cleanly(name, builder):
    """Truncation + byte-flip grid over the round-5 additions: APNG,
    animated WebP, AIFF, uncompressed-DIB AVI. Every variant must
    decode or raise ValueError/NotImplementedError (zlib.error allowed
    — contained by every caller) — never hang or escape with a
    struct/Index error."""
    import zlib

    decoders = {
        "apng": mm.decode_apng_frames,
        "webp_anim": mm.decode_webp_anim_frames,
        "aiff": mm.decode_aiff,
        "avi_dib": mm.decode_avi_frames,
    }
    blob = builder()
    dec = decoders[name]
    out = dec(blob)
    assert out[0] > 0  # pristine blob decodes
    for variant in _sweep(blob, step=5):
        try:
            dec(variant)
        except (ValueError, NotImplementedError) as ex:
            assert str(ex)
        except Exception as ex:
            assert isinstance(ex, zlib.error), (name, type(ex), ex)
