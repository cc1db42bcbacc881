"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, processed by Arrow-batched ``mapInPandas`` stages.

The Spark-side contract is real and tested — schemas, batch shapes,
partitioning, dispatch. Codec support is pure-Python/stdlib:

* header sniffing (PNG IHDR / GIF screen / JPEG SOF scan / WAV / MP4)
  gives type, format and pixel dimensions without decoding payloads;
* ``decode_image`` is a REAL PNG decoder (stdlib ``zlib`` inflate +
  scanline unfiltering, 8-bit gray/RGB/RGBA) — no external codec
  library; other formats raise with a clear message and the
  ``extract_features`` stage degrades to a marker feature;
* the deterministic fixture encoders (PNG, GIF, BMP, TIFF, WAV, ...)
  live in the repo-root ``fixture_writers.py``.

Design point for 100 TB of media: bytes stay in the `binary` column until
the LAST possible stage; metadata-only operations (sniff, size, group)
never deserialize payloads; per-batch memory is bounded
by `spark.sql.execution.arrow.maxRecordsPerBatch` (2048, set in
session.py) times the average blob size, so batch
sizing — not row counts — is the operative knob.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .columns import map_rows

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), True),   # image/audio/video/unknown
        StructField("format", StringType(), True),       # png/jpeg/wav/...
        StructField("n_bytes", LongType(), True),
        StructField("digest", StringType(), True),        # sha256 for exact dedup
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("error", StringType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("feature", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def _jpeg_dims(data: bytes) -> tuple:
    """(width, height) from the first SOFn segment, or (None, None).

    Walks the JPEG marker stream: each segment is FF <marker> <len:2be>;
    SOF0-SOF15 (except DHT/JPG/DAC = C4/C8/CC) carry
    ``precision:1 height:2 width:2``. Pure byte inspection.
    """
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            pos += 1  # filler/garbage tolerance
            continue
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers have no length
            continue
        if pos + 4 > n:
            break
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 <= n:
                h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                return (w, h)
            return (None, None)
        if marker == 0xDA:  # start of scan — dims would have come before
            break
        pos += 2 + seg_len
    return (None, None)


def sniff_media(data: Optional[bytes]) -> tuple:
    """(media_type, format, width, height) from magic bytes + headers.

    Header parsing is pure byte inspection (PNG IHDR / GIF screen / JPEG
    SOF scan / WAV fmt) — no codec library involved; deterministic.
    """
    if not data:
        return ("unknown", None, None, None)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        w = h = None
        if len(data) >= 24:
            w, h = struct.unpack(">II", data[16:24])
        return ("image", "png", w, h)
    if data[:3] == b"\xff\xd8\xff":
        w, h = _jpeg_dims(data)
        return ("image", "jpeg", w, h)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w = h = None
        if len(data) >= 10:
            w, h = struct.unpack("<HH", data[6:10])
        return ("image", "gif", w, h)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return ("audio", "wav", None, None)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return ("image", "webp") + _webp_dims(data)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        w = h = None
        # avih (inside LIST hdrl) carries dwWidth/dwHeight at offset 32
        i = data.find(b"avih")
        if 0 <= i and i + 48 <= len(data):
            w, h = struct.unpack("<II", data[i + 40 : i + 48])
        return ("video", "avi", w, h)
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return ("image", "bmp", w, abs(h))  # negative h = top-down rows
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return ("image", "tiff") + _tiff_dims(data)
    if data[:3] == b"ID3" or data[:2] == b"\xff\xfb":
        return ("audio", "mp3", None, None)
    if data[:4] == b"OggS":
        return ("audio", "ogg", None, None)
    if data[:4] == b"fLaC":
        return ("audio", "flac", None, None)
    if data[:4] == b"\x1a\x45\xdf\xa3":  # EBML (Matroska / WebM)
        return ("video", "webm", None, None)
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        return ("audio", "aiff", None, None)
    if data[:4] == b"\x00\x00\x01\x00" and len(data) >= 8:
        # ICO: first directory entry carries dims; 0 encodes 256
        w, h = data[6] or 256, data[7] or 256
        return ("image", "ico", w, h)
    head = data[:1024].lstrip()
    if head[:5] == b"<?xml" or head[:4] == b"<svg":
        m = re.search(rb"<svg\b[^>]*>", data[:4096])
        if m is not None:
            tag = m.group(0)
            def attr(name):
                am = re.search(
                    rb'\b' + name + rb'="\s*(\d+)(?:\.\d+)?\s*(?:px)?\s*"', tag
                )
                return int(am.group(1)) if am else None
            return ("image", "svg", attr(b"width"), attr(b"height"))
    if len(data) > 11 and data[4:8] == b"ftyp":
        brand = data[8:12]
        if brand in (b"avif", b"avis"):
            return ("image", "avif", None, None)
        if brand in (b"heic", b"heix", b"mif1"):
            return ("image", "heic", None, None)
        info = mp4_info(data)
        return ("video", "mp4", info.get("width"), info.get("height"))
    return ("unknown", None, None, None)


def _webp_dims(data: bytes) -> tuple:
    """(w, h) from the first VP8/VP8L/VP8X chunk, else (None, None)."""
    tag = data[12:16]
    if tag == b"VP8 " and len(data) >= 30 and data[23:26] == b"\x9d\x01\x2a":
        w, h = struct.unpack("<HH", data[26:30])
        return (w & 0x3FFF, h & 0x3FFF)
    if tag == b"VP8L" and len(data) >= 25 and data[20] == 0x2F:
        bits = int.from_bytes(data[21:25], "little")
        return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
    if tag == b"VP8X" and len(data) >= 30:
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return (w, h)
    return (None, None)


def _ifd_tags(data: bytes, wanted: frozenset) -> dict:
    """TIFF IFD walk (IFD0 + the ExifIFD it points at) → {tag: value}
    for the ``wanted`` tags. Values: SHORT/LONG → int, ASCII → str.
    Raises nothing — malformed structures just yield fewer tags."""
    out: dict = {}
    try:
        end = "<" if data[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(end + "I", data[4:8])
        queue = [ifd_off]
        seen = set()
        while queue:
            off = queue.pop()
            if off in seen or off + 2 > len(data):
                continue
            seen.add(off)
            (n,) = struct.unpack(end + "H", data[off : off + 2])
            for k in range(min(n, 512)):
                e = data[off + 2 + 12 * k : off + 14 + 12 * k]
                if len(e) < 12:
                    break
                tag, ftype, count = struct.unpack(end + "HHI", e[:8])
                if tag == 0x8769:  # ExifIFD pointer
                    queue.append(struct.unpack(end + "I", e[8:12])[0])
                    continue
                if tag not in wanted:
                    continue
                if ftype == 3 and count == 1:
                    out[tag] = struct.unpack(end + "H", e[8:10])[0]
                elif ftype == 4 and count == 1:
                    out[tag] = struct.unpack(end + "I", e[8:12])[0]
                elif ftype == 2:  # ASCII, NUL-terminated
                    raw = (
                        e[8 : 8 + count]
                        if count <= 4
                        else data[
                            struct.unpack(end + "I", e[8:12])[0] :
                        ][:count]
                    )
                    out[tag] = raw.split(b"\x00")[0].decode(
                        "latin-1", "replace"
                    )
    except (struct.error, IndexError):
        pass
    return out


_EXIF_TAGS = frozenset({256, 257, 271, 272, 274, 306})


def parse_exif(data: bytes) -> dict:
    """EXIF fields from a JPEG's APP1 segment or a bare TIFF:
    {'orientation', 'make', 'model', 'taken_at'} — keys absent when the
    container has no EXIF or lacks the tag."""
    tiff = None
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        tiff = data
    elif data[:3] == b"\xff\xd8\xff":
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                break
            marker = data[pos + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            if marker == 0xE1 and data[pos + 4 : pos + 10] == b"Exif\x00\x00":
                tiff = data[pos + 10 : pos + 2 + ln]
                break
            if marker == 0xDA:
                break
            pos += 2 + ln
    if tiff is None:
        return {}
    tags = _ifd_tags(tiff, _EXIF_TAGS)
    out = {}
    if 274 in tags:
        out["orientation"] = int(tags[274])
    if 271 in tags:
        out["make"] = tags[271]
    if 272 in tags:
        out["model"] = tags[272]
    if 306 in tags:
        out["taken_at"] = tags[306]
    return out


EXIF_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("orientation", IntegerType(), True),
        StructField("make", StringType(), True),
        StructField("model", StringType(), True),
        StructField("taken_at", StringType(), True),
    ]
)


def image_exif(df: DataFrame) -> DataFrame:
    """(media_id, blob) → EXIF metadata table (header-only, no decode)
    — the orientation/provenance signals an image-dedup or curation
    pipeline keys on. Bytes-local like media_metadata; rows without
    EXIF yield all-null fields."""
    return _header_facts(df, EXIF_SCHEMA, parse_exif)


def _header_facts(df: DataFrame, schema: StructType, parse: Callable) -> DataFrame:
    """One row per blob: media_id, then ``parse(blob)``'s value for each
    other field of ``schema`` (null when absent or when the blob is null)."""
    keys = schema.fieldNames()[1:]

    def row_fn(mid, raw):
        facts = parse(bytes(raw)) if raw is not None else {}
        yield (str(mid),) + tuple(facts.get(k) for k in keys)

    return map_rows(df.select("media_id", "blob"), schema, lambda: row_fn)


_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2,
                   9: 4, 10: 8, 11: 4, 12: 8}


def strip_gps_tiff(tiff: bytes) -> Tuple[bytes, bool]:
    """(cleaned TIFF bytes, had_gps): remove every GPSInfo pointer
    entry (tag 0x8825) from IFD0 AND zero the GPS IFD it points at —
    the entry table, its next pointer, and every out-of-line value a
    GPS entry references — so the coordinates are gone from the BYTES,
    not merely unlinked (an unlinked IFD is trivially recoverable by
    any forensic scanner). The IFD0 table shrinks, the next-IFD
    pointer moves up, and 12 zero bytes of padding keep every other
    absolute offset valid. File length never changes; same input →
    same output bytes.

    Raises ValueError when GPS data is PRESENT but the structure is
    not safely rewritable (>512 IFD0 entries, a truncated entry table,
    or a GPS pointer that lands inside the header/IFD0 region — zeroing
    through such a pointer would clobber legitimate bytes). The caller
    must treat that as "cannot scrub in place" and fall back to
    dropping the whole metadata segment — returning the input unchanged
    would publish un-scrubbed coordinates flagged as clean."""
    try:
        end = "<" if tiff[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(end + "I", tiff[4:8])
        (n,) = struct.unpack(end + "H", tiff[ifd_off : ifd_off + 2])
    except (struct.error, IndexError):
        # header unreadable: no IFD walker (incl. parse_exif) can reach
        # any GPS data here — passthrough, same stance as parse_exif
        return (tiff, False)
    try:
        keep: List[bytes] = []
        gps_offs: List[int] = []
        truncated = False
        for k in range(min(n, 4096)):
            e = tiff[ifd_off + 2 + 12 * k : ifd_off + 14 + 12 * k]
            if len(e) < 12:
                truncated = True
                break
            (tag,) = struct.unpack(end + "H", e[:2])
            if tag == 0x8825:
                gps_offs.append(struct.unpack(end + "I", e[8:12])[0])
            else:
                keep.append(e)
        if not gps_offs:
            return (tiff, False)
        if n > 512 or truncated:
            raise ValueError(
                "GPS present but IFD0 is not safely rewritable "
                f"(entries={n}, truncated={truncated})"
            )
        # nothing below the end of the IFD0 region may be zeroed: a
        # malformed GPS pointer into the header/entry table would
        # otherwise clobber legitimate bytes while reporting success
        min_safe = ifd_off + 2 + 12 * n + 4
        for goff in gps_offs:
            if goff < min_safe or goff + 2 > len(tiff):
                raise ValueError(
                    f"GPS IFD pointer {goff} outside the safe region"
                )
        dropped = n - len(keep)
        next_ptr_off = ifd_off + 2 + 12 * n
        next_ptr = tiff[next_ptr_off : next_ptr_off + 4]
        out = bytearray(
            tiff[:ifd_off]
            + struct.pack(end + "H", len(keep))
            + b"".join(keep)
            + next_ptr
            + b"\x00" * (12 * dropped)
            + tiff[next_ptr_off + 4 :]
        )

        def zero(lo: int, ln: int) -> None:
            if ln <= 0 or lo < min_safe or lo + ln > len(out):
                return  # never touch header/IFD0 or run off the end
            out[lo : lo + ln] = b"\x00" * ln

        for goff in gps_offs:
            (gn,) = struct.unpack(end + "H", bytes(out[goff : goff + 2]))
            gn = min(gn, 512)
            # zero out-of-line GPS values first (entry table still readable)
            for k in range(gn):
                ge = bytes(out[goff + 2 + 12 * k : goff + 14 + 12 * k])
                if len(ge) < 12:
                    break
                _gtag, gtype, gcount = struct.unpack(end + "HHI", ge[:8])
                size = _TIFF_TYPE_SIZE.get(gtype, 1) * gcount
                if size > 4:
                    (voff,) = struct.unpack(end + "I", ge[8:12])
                    zero(voff, size)
            # then the GPS IFD itself (count + entries + next pointer)
            zero(goff, 2 + 12 * gn + 4)
        return (bytes(out), True)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt TIFF during GPS strip: {ex}") from ex


def scrub_exif_gps(df: DataFrame) -> DataFrame:
    """(media_id, blob, had_gps) — media-side PII pass: GPS location
    data is stripped from every JPEG's EXIF (the camera-default leak a
    crawled image corpus republishes); all other EXIF tags, the image
    stream and non-EXIF bytes are preserved byte-for-byte. Non-JPEG
    and EXIF-less rows pass through unchanged with had_gps=false —
    never an error (same per-row containment as the other media ops).
    """

    def row_fn(mid, raw):
        data = bytes(raw) if raw is not None else b""
        out, had = data, False
        if data[:3] == b"\xff\xd8\xff":
            pos = 2
            while pos + 4 <= len(data):
                if data[pos] != 0xFF:
                    break
                marker = data[pos + 1]
                if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
                if (
                    marker == 0xE1
                    and data[pos + 4 : pos + 10] == b"Exif\x00\x00"
                ):
                    tiff = data[pos + 10 : pos + 2 + ln]
                    try:
                        new_tiff, had = strip_gps_tiff(tiff)
                    except ValueError:
                        # GPS present but not safely rewritable
                        # in place: drop the ENTIRE APP1 segment
                        # — losing legit EXIF beats publishing
                        # coordinates flagged as clean
                        out = data[:pos] + data[pos + 2 + ln :]
                        had = True
                        break
                    if had:
                        body = b"Exif\x00\x00" + new_tiff
                        out = (
                            data[:pos]
                            + b"\xff\xe1"
                            + struct.pack(">H", len(body) + 2)
                            + body
                            + data[pos + 2 + ln :]
                        )
                    break
                if marker == 0xDA:
                    break
                pos += 2 + ln
        yield (str(mid), out, had)

    return map_rows(
        df.select("media_id", "blob"),
        "media_id string, blob binary, had_gps boolean",
        lambda: row_fn,
    )


def _tiff_dims(data: bytes) -> tuple:
    """(ImageWidth, ImageLength) from the first IFD, else (None, None)."""
    try:
        end = "<" if data[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(end + "I", data[4:8])
        (n,) = struct.unpack(end + "H", data[ifd_off : ifd_off + 2])
        w = h = None
        for k in range(n):
            e = data[ifd_off + 2 + 12 * k : ifd_off + 14 + 12 * k]
            tag, ftype = struct.unpack(end + "HH", e[:4])
            if tag in (256, 257):
                v = struct.unpack(
                    end + ("H" if ftype == 3 else "I"), e[8 : 10 if ftype == 3 else 12]
                )[0]
                if tag == 256:
                    w = v
                else:
                    h = v
        return (w, h)
    except (struct.error, IndexError):
        return (None, None)


def media_metadata(df: DataFrame) -> DataFrame:
    """(media_id, blob) → typed metadata table (no decode, bytes-local)."""

    def row_fn(mid, raw):
        data = bytes(raw) if raw is not None else None
        mtype, fmt, w, h = sniff_media(data)
        yield (
            str(mid),
            mtype,
            fmt,
            len(data) if data else 0,
            hashlib.sha256(data).hexdigest() if data else None,
            int(w) if w is not None else None,
            int(h) if h is not None else None,
            None if data else "empty blob",
        )

    return map_rows(
        df.select("media_id", "blob"), MEDIA_META_SCHEMA, lambda: row_fn
    )


# PNG color type → samples per pixel AS STORED (palette = 1 index)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def decode_png(data: bytes) -> Tuple[int, int, int, bytes]:
    """Real pure-Python PNG decode: (width, height, channels, raw pixels).

    Malformed input always surfaces as ``ValueError``/``zlib.error`` —
    truncated chunks would otherwise escape as struct.error/IndexError
    past the per-row containment in extract_features/resize_media and
    kill the whole Spark task (same contract as decode_jpeg).
    """
    try:
        return _decode_png_impl(data)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt PNG stream: {type(ex).__name__}: {ex}") from ex


def _png_unfilter(raw: bytes, off: int, nbytes: int, height: int, bpp: int):
    """Reverse per-scanline filters (None/Sub/Up/Average/Paeth, PNG
    spec §9) over one (sub)image of ``height`` rows × ``nbytes`` filtered
    bytes; returns (unfiltered bytes, offset after the subimage)."""
    out = bytearray(nbytes * height)
    prev = bytearray(nbytes)
    for y in range(height):
        if off >= len(raw):
            raise ValueError("PNG pixel data truncated")
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + nbytes])
        if len(line) < nbytes:
            raise ValueError("PNG pixel data truncated")
        off += 1 + nbytes
        if ftype == 1:  # Sub
            for i in range(bpp, nbytes):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(nbytes):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(nbytes):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(nbytes):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"PNG bad filter type {ftype}")
        out[y * nbytes : (y + 1) * nbytes] = line
        prev = line
    return out, off


def _png_row_samples(line, width: int, spp: int, bitd: int):
    """One unfiltered scanline → flat list of ``width * spp`` sample
    values (8-bit range for depths ≤ 8 after the caller scales; 16-bit
    samples are reduced to their high byte, the standard 8-bit view)."""
    if bitd == 8:
        return list(line[: width * spp])
    if bitd == 16:
        return list(line[0 : width * spp * 2 : 2])
    # 1/2/4-bit packed, MSB first (gray or palette index — spp == 1)
    vals = []
    per_byte = 8 // bitd
    mask = (1 << bitd) - 1
    for x in range(width):
        b = line[x // per_byte]
        shift = 8 - bitd * (x % per_byte + 1)
        vals.append((b >> shift) & mask)
    return vals


def _decode_png_impl(data: bytes) -> Tuple[int, int, int, bytes]:
    """(see :func:`decode_png`)

    stdlib only — zlib inflate of the IDAT stream, per-scanline reverse
    filtering, then sample assembly. Supports every PNG pixel format:
    gray (1/2/4/8/16-bit), palette (1/2/4/8-bit, PLTE + optional tRNS
    alpha), gray+alpha / RGB / RGBA (8/16-bit), non-interlaced or
    Adam7-interlaced. 16-bit samples reduce to their high byte; sub-byte
    gray scales to 0-255; palette output is RGB (RGBA when tRNS is
    present). Returns pixels row-major, ``channels`` bytes per pixel.
    """
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, bitd, ctype, interlace = 8, None, None, None, None, 0
    idat = bytearray()
    plte = None
    trns = None
    while pos + 8 <= len(data):
        (clen,) = struct.unpack(">I", data[pos : pos + 4])
        ctag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if ctag == b"IHDR":
            width, height, bitd, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctag == b"PLTE":
            plte = body
        elif ctag == b"tRNS":
            trns = body
        elif ctag == b"IDAT":
            idat += body
        elif ctag == b"IEND":
            break
        pos += 12 + clen  # len + tag + crc
    if width is None:
        raise ValueError("PNG missing IHDR")
    if ctype not in _PNG_CHANNELS or interlace not in (0, 1):
        raise ValueError(f"PNG colortype={ctype} interlace={interlace} invalid")
    if not 0 < width * height <= 64_000_000:
        # corrupt or adversarial IHDR dims must not pre-allocate the
        # sample grid — one bad row would otherwise OOM the executor
        raise ValueError(f"PNG dimensions {width}x{height} out of range")
    valid_depths = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}.get(ctype, (8, 16))
    if bitd not in valid_depths:
        raise ValueError(f"PNG bitdepth={bitd} invalid for colortype={ctype}")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")

    spp = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(bytes(idat))
    # assemble the full-size sample grid pass by pass
    img = [0] * (width * height * spp)
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    off = 0
    bpp = max(1, (bitd * spp + 7) // 8)  # filter distance, bytes
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        nbytes = (pw * spp * bitd + 7) // 8
        sub, off = _png_unfilter(raw, off, nbytes, ph, bpp)
        for py in range(ph):
            row = _png_row_samples(
                sub[py * nbytes : (py + 1) * nbytes], pw, spp, bitd
            )
            y = y0 + py * dy
            for px in range(pw):
                base = (y * width + (x0 + px * dx)) * spp
                img[base : base + spp] = row[px * spp : (px + 1) * spp]
    if off != len(raw):
        raise ValueError("PNG pixel data length mismatch")

    if ctype == 3:  # palette → RGB(A)
        n_entries = len(plte) // 3
        alpha = None
        if trns is not None:
            alpha = list(trns) + [255] * (n_entries - len(trns))
        ch = 4 if alpha is not None else 3
        out = bytearray(width * height * ch)
        for i, idx in enumerate(img):
            if idx >= n_entries:
                raise ValueError(f"PNG palette index {idx} out of range")
            out[i * ch : i * ch + 3] = plte[idx * 3 : idx * 3 + 3]
            if alpha is not None:
                out[i * ch + 3] = alpha[idx]
        return (width, height, ch, bytes(out))

    if bitd < 8:  # sub-byte gray → full 8-bit range
        scale = 255 // ((1 << bitd) - 1)
        return (width, height, spp, bytes(v * scale for v in img))
    return (width, height, spp, bytes(img))


def decode_image(data: bytes):
    """bytes → (width, height, channels, raw pixels). Real for PNG,
    GIF, BMP, uncompressed TIFF, lossless WebP (VP8L — the common
    thumbnail re-encode; lossy VP8 still raises) and JPEG
    (``operators/jpeg.py``, pure Python + numpy); other formats raise
    ``NotImplementedError`` — inject a decoder via
    ``extract_features(decoder=...)``."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(data)
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from .vp8l import decode_webp

        return decode_webp(data)
    if data[:4] == b"\x00\x00\x01\x00":
        return decode_ico(data)
    mtype, fmt, _, _ = sniff_media(data)
    raise NotImplementedError(
        f"no pure-Python decoder for {mtype}/{fmt}; PNG, GIF, BMP, "
        "TIFF, lossless WebP, ICO and JPEG are supported — "
        "inject decoder= for other codecs"
    )


def decode_bmp(data: bytes) -> Tuple[int, int, int, bytes]:
    """Uncompressed Windows BMP (BI_RGB, 8-bit palette / 24 / 32-bit)
    → (w, h, channels, row-major RGB(A) pixels). BMP stores rows
    bottom-up (unless height < 0) with BGR byte order and 4-byte row
    padding — all normalized here."""
    try:
        if data[:2] != b"BM":
            raise ValueError("not a BMP")
        (pix_off,) = struct.unpack("<I", data[10:14])
        (hdr_size,) = struct.unpack("<I", data[14:18])
        if hdr_size < 40:
            raise ValueError(f"BMP core-header size {hdr_size} unsupported")
        w, h = struct.unpack("<ii", data[18:26])
        planes, bpp = struct.unpack("<HH", data[26:30])
        (comp,) = struct.unpack("<I", data[30:34])
        if comp != 0:
            raise ValueError(f"BMP compression {comp} unsupported (BI_RGB only)")
        if bpp not in (8, 24, 32):
            raise ValueError(f"BMP bit depth {bpp} unsupported")
        top_down = h < 0
        h = abs(h)
        if w <= 0 or h <= 0 or w * h > 64_000_000:
            raise ValueError(f"BMP dimensions {w}x{h} out of range")
        palette = None
        if bpp == 8:
            (n_colors,) = struct.unpack("<I", data[46:50])
            n_colors = n_colors or 256
            pal_off = 14 + hdr_size
            palette = data[pal_off : pal_off + 4 * n_colors]
            if len(palette) < 4 * n_colors:
                raise ValueError("BMP palette truncated")
        stride = (w * bpp // 8 + 3) & ~3
        ch = 4 if bpp == 32 else 3
        out = bytearray(w * h * ch)
        for row in range(h):
            src = pix_off + (row if top_down else h - 1 - row) * stride
            line = data[src : src + stride]
            if len(line) < w * bpp // 8:
                raise ValueError("BMP pixel data truncated")
            for x in range(w):
                o = (row * w + x) * ch
                if bpp == 8:
                    idx = line[x] * 4
                    out[o] = palette[idx + 2]
                    out[o + 1] = palette[idx + 1]
                    out[o + 2] = palette[idx]
                elif bpp == 24:
                    b_, g, r = line[3 * x : 3 * x + 3]
                    out[o], out[o + 1], out[o + 2] = r, g, b_
                else:
                    b_, g, r, a = line[4 * x : 4 * x + 4]
                    out[o], out[o + 1], out[o + 2], out[o + 3] = r, g, b_, a
        return (w, h, ch, bytes(out))
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt BMP stream: {type(ex).__name__}: {ex}") from ex


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (Compression=5): MSB-first code packing,
    ClearCode 256 / EOI 257, and the spec's EARLY CHANGE — the code
    width grows when the next free code is (1 << width) - 1, one code
    earlier than GIF's variant."""
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: Optional[bytes] = None
    acc = n_acc = 0
    for byte in data:
        acc = (acc << 8) | byte
        n_acc += 8
        while n_acc >= width:
            code = (acc >> (n_acc - width)) & ((1 << width) - 1)
            n_acc -= width
            if code == 256:  # Clear
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOI
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("TIFF LZW first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("TIFF LZW code out of range")
            out += entry
            prev = entry
            # early change, decoder side: the decoder's table lags the
            # encoder's by one entry, so it widens at 510/1022/2046
            # (the TIFF6 pseudo-code's well-known constants) — one less
            # than the encoder's 511/1023/2047 switch points.
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """Apple PackBits RLE (TIFF Compression=32773)."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("PackBits run truncated")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def decode_tiff(data: bytes) -> Tuple[int, int, int, bytes]:
    """TIFF (chunky planar, 8-bit gray or RGB(A), strip layout) →
    (w, h, channels, pixels). Both byte orders; multi-strip images
    concatenate in strip order. Compression: none (1), LZW (5, with
    early change), Adobe/zlib Deflate (8), PackBits (32773); the
    horizontal-differencing Predictor (tag 317 = 2) is undone per row
    and channel after decompression."""
    try:
        end = "<" if data[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(end + "I", data[4:8])
        (n,) = struct.unpack(end + "H", data[ifd_off : ifd_off + 2])
        tags: Dict[int, list] = {}
        for k in range(n):
            e = data[ifd_off + 2 + 12 * k : ifd_off + 14 + 12 * k]
            tag, ftype, count = struct.unpack(end + "HHI", e[:8])
            unit = {1: 1, 3: 2, 4: 4}.get(ftype)
            if unit is None:
                continue
            fmt = {1: "B", 3: "H", 4: "I"}[ftype]
            total = unit * count
            raw = (
                e[8 : 8 + total]
                if total <= 4
                else data[
                    struct.unpack(end + "I", e[8:12])[0] : struct.unpack(
                        end + "I", e[8:12]
                    )[0]
                    + total
                ]
            )
            if len(raw) < total:
                raise ValueError(f"TIFF tag {tag} value truncated")
            tags[tag] = list(struct.unpack(f"{end}{count}{fmt}", raw))
        w = tags.get(256, [None])[0]
        h = tags.get(257, [None])[0]
        if not w or not h:
            raise ValueError("TIFF missing ImageWidth/ImageLength")
        comp = tags.get(259, [1])[0]
        if comp not in (1, 5, 8, 32773):
            raise ValueError(
                f"TIFF compression {comp} unsupported "
                "(none/LZW/Deflate/PackBits)"
            )
        bits = tags.get(258, [8])
        if any(b != 8 for b in bits):
            raise ValueError(f"TIFF bits-per-sample {bits} unsupported")
        spp = tags.get(277, [len(bits)])[0]
        if spp not in (1, 3, 4):
            raise ValueError(f"TIFF samples-per-pixel {spp} unsupported")
        if tags.get(284, [1])[0] != 1:
            raise ValueError("TIFF planar configuration 2 unsupported")
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets:
            raise ValueError("TIFF missing StripOffsets")
        if not counts:
            counts = [w * h * spp // len(offsets)] * len(offsets)
        rows_per_strip = tags.get(278, [h])[0]
        out = bytearray()
        for off, cnt in zip(offsets, counts):
            chunk = data[off : off + cnt]
            if len(chunk) < cnt:
                raise ValueError("TIFF strip truncated")
            if comp == 5:
                chunk = _tiff_lzw_decode(chunk)
            elif comp == 8:
                try:
                    chunk = zlib.decompress(chunk)
                except zlib.error as ex:
                    raise ValueError(f"TIFF deflate strip corrupt: {ex}") from ex
            elif comp == 32773:
                chunk = _packbits_decode(chunk)
            out += chunk
        if len(out) < w * h * spp:
            raise ValueError("TIFF pixel data incomplete")
        out = out[: w * h * spp]
        if tags.get(317, [1])[0] == 2:  # horizontal differencing
            stride = w * spp
            for y in range(h):
                base = y * stride
                for x in range(spp, stride):
                    out[base + x] = (out[base + x] + out[base + x - spp]) & 0xFF
        elif tags.get(317, [1])[0] not in (1,):
            raise ValueError(f"TIFF predictor {tags[317][0]} unsupported")
        _ = rows_per_strip  # layout metadata; strips concatenate in order
        return (w, h, spp, bytes(out))
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt TIFF stream: {type(ex).__name__}: {ex}") from ex


def decode_ico(data: bytes) -> Tuple[int, int, int, bytes]:
    """ICO (favicon) decode → (w, h, channels, pixels): picks the
    LARGEST directory entry (ties: first) and decodes its payload —
    embedded PNG via :func:`decode_png`, or a DIB (BITMAPINFOHEADER
    with doubled height for the XOR+AND masks) re-framed as a BMP for
    :func:`decode_bmp`; the AND mask is ignored (32-bit entries carry
    real alpha, and favicon dedup keys on the color planes).

    Favicons are among the most-duplicated assets on the web — this
    feeds them into the perceptual dHash path instead of leaving them
    sha256-exact-only."""
    try:
        if data[:4] != b"\x00\x00\x01\x00":
            raise ValueError("not an ICO")
        (n,) = struct.unpack("<H", data[4:6])
        if n < 1:
            raise ValueError("ICO has no images")
        best = None
        for k in range(n):
            e = data[6 + 16 * k : 22 + 16 * k]
            if len(e) < 16:
                raise ValueError("ICO directory truncated")
            bw = e[0] or 256
            bh = e[1] or 256
            size, off = struct.unpack("<II", e[8:16])
            if best is None or bw * bh > best[0]:
                best = (bw * bh, size, off)
        _, size, off = best
        payload = data[off : off + size]
        if len(payload) < size:
            raise ValueError("ICO image payload truncated")
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_png(payload)
        if len(payload) < 40:
            raise ValueError("ICO DIB header truncated")
        (hdr_size,) = struct.unpack("<I", payload[0:4])
        if hdr_size < 40:
            raise ValueError(f"ICO DIB header size {hdr_size} unsupported")
        w, h2 = struct.unpack("<ii", payload[4:12])
        bpp = struct.unpack("<H", payload[14:16])[0]
        patched = bytearray(payload)
        # the DIB height covers XOR+AND planes — halve it
        struct.pack_into("<i", patched, 8, h2 // 2)
        if bpp <= 8:
            (clr_used,) = struct.unpack("<I", payload[32:36])
            if clr_used == 0:
                # ICO convention: 0 means the full 2^bpp palette
                struct.pack_into("<I", patched, 32, 1 << bpp)
            pal_bytes = 4 * ((clr_used or (1 << bpp)))
        else:
            pal_bytes = 0
        pix_off = 14 + hdr_size + pal_bytes
        blob = (
            b"BM"
            + struct.pack("<I", 14 + len(patched))
            + b"\x00\x00\x00\x00"
            + struct.pack("<I", pix_off)
            + bytes(patched)
        )
        return decode_bmp(blob)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt ICO stream: {type(ex).__name__}: {ex}") from ex


def _gif_lzw_decode(
    data: bytes, min_code_size: int, limit: Optional[int] = None
) -> List[int]:
    """GIF-variant LZW decode (LSB-first bit packing, growing code
    sizes up to 12 bits, CLEAR resets) → color indices. ``limit``
    stops decoding once that many indices exist — LZW expands up to
    ~2700×, so an unbounded decode of a crafted stream is a memory
    bomb; callers pass the frame's pixel count."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: List[List[int]] = [[i] for i in range(clear)] + [[], []]
    out: List[int] = []
    prev: Optional[List[int]] = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = [[i] for i in range(clear)] + [[], []]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if code < len(table) and table[code]:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + [prev[0]]  # the KwKwK case
            else:
                raise ValueError(f"GIF LZW bad code {code}")
            out.extend(entry)
            if limit is not None and len(out) >= limit:
                return out
            if prev is not None and len(table) < 4096:
                table.append(prev + [entry[0]])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return out


def decode_gif(data: bytes) -> Tuple[int, int, int, bytes]:
    """Real pure-Python GIF decode with error containment: malformed
    input raises ``ValueError``, never struct.error/IndexError (same
    contract as decode_jpeg/decode_png)."""
    try:
        return _decode_gif_impl(data)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt GIF stream: {type(ex).__name__}: {ex}") from ex


def _decode_gif_impl(data: bytes) -> Tuple[int, int, int, bytes]:
    """Real pure-Python GIF decode: (width, height, 3, RGB pixels) of
    the FIRST image frame. stdlib only — logical screen descriptor,
    global/local color tables, extension-block skipping, sub-block
    reassembly, full LZW (growing codes, CLEAR, the KwKwK case).
    Interlaced frames are deinterlaced (4-pass row remap)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct: Optional[bytes] = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            _, _, w, h, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = data[pos : pos + 3 * n]
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image has no color table")
            if not 0 < w * h <= 64_000_000:
                # corrupt/adversarial descriptor dims: the index list
                # and RGB buffer must never be attacker-sized
                raise ValueError(f"GIF dimensions {w}x{h} out of range")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos]:
                blen = data[pos]
                lzw += data[pos + 1 : pos + 1 + blen]
                pos += 1 + blen
            indices = _gif_lzw_decode(bytes(lzw), mcs, limit=w * h)[: w * h]
            if len(indices) < w * h:
                raise ValueError("GIF pixel data truncated")
            if ipacked & 0x40:  # interlaced: storage rows -> display rows
                rows = [indices[r * w : (r + 1) * w] for r in range(h)]
                deint: List[Optional[List[int]]] = [None] * h
                for disp, row in zip(_gif_interlace_order(h), rows):
                    deint[disp] = row
                indices = [k for row in deint for k in row]  # type: ignore[union-attr]
            ncolors = len(ct) // 3
            out = bytearray(w * h * 3)
            for i, k in enumerate(indices):
                if k >= ncolors:
                    raise ValueError(f"GIF index {k} outside color table")
                out[i * 3 : i * 3 + 3] = ct[k * 3 : k * 3 + 3]
            return (w, h, 3, bytes(out))
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"GIF bad block marker 0x{b:02x}")
    raise ValueError("GIF contains no image data")


def decode_gif_frames(
    data: bytes, max_frames: Optional[int] = None
) -> Tuple[int, int, List[bytes]]:
    """Animated GIF → (canvas_w, canvas_h, [full-canvas RGB bytes per
    frame]) with real compositing: frames paint at their descriptor
    offsets, a GCE transparent index leaves the underlying canvas
    visible, and disposal methods 0/1 (leave), 2 (restore background —
    zeros) and 3 (restore previous) apply between frames. Same LZW /
    interlace / allocation-guard core as :func:`decode_gif`."""
    try:
        return _decode_gif_frames_impl(data, max_frames)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt GIF stream: {type(ex).__name__}: {ex}") from ex


def _decode_gif_frames_impl(
    data: bytes, max_frames: Optional[int]
) -> Tuple[int, int, List[bytes]]:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    if not 0 < sw * sh <= 64_000_000:
        raise ValueError(f"GIF canvas {sw}x{sh} out of range")
    pos = 13
    gct: Optional[bytes] = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    canvas = bytearray(sw * sh * 3)
    frames: List[bytes] = []
    disposal = 0
    transparent: Optional[int] = None
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and pos < len(data) and data[pos] >= 4:
                flags = data[pos + 1]
                disposal = (flags >> 2) & 0x07
                transparent = data[pos + 4] if flags & 0x01 else None
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            x0, y0, w, h, ipacked = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10]
            )
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = data[pos : pos + 3 * n]
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image has no color table")
            if not 0 < w * h <= 64_000_000:
                raise ValueError(f"GIF dimensions {w}x{h} out of range")
            if x0 + w > sw or y0 + h > sh:
                raise ValueError("GIF frame exceeds the canvas")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos]:
                blen = data[pos]
                lzw += data[pos + 1 : pos + 1 + blen]
                pos += 1 + blen
            pos += 1  # block terminator
            indices = _gif_lzw_decode(bytes(lzw), mcs, limit=w * h)[: w * h]
            if len(indices) < w * h:
                raise ValueError("GIF pixel data truncated")
            if ipacked & 0x40:
                rows = [indices[r * w : (r + 1) * w] for r in range(h)]
                deint: List[Optional[List[int]]] = [None] * h
                for disp, row in zip(_gif_interlace_order(h), rows):
                    deint[disp] = row
                indices = [k for row in deint for k in row]  # type: ignore[union-attr]
            ncolors = len(ct) // 3
            prev = bytes(canvas) if disposal == 3 else None
            for yy in range(h):
                base = ((y0 + yy) * sw + x0) * 3
                for xx in range(w):
                    k = indices[yy * w + xx]
                    if k == transparent:
                        continue
                    if k >= ncolors:
                        raise ValueError(f"GIF index {k} outside color table")
                    o = base + xx * 3
                    canvas[o : o + 3] = ct[k * 3 : k * 3 + 3]
            frames.append(bytes(canvas))
            if max_frames is not None and len(frames) >= max_frames:
                return (sw, sh, frames)
            if disposal == 2:
                for yy in range(h):
                    o = ((y0 + yy) * sw + x0) * 3
                    canvas[o : o + 3 * w] = b"\x00" * (3 * w)
            elif disposal == 3 and prev is not None:
                canvas = bytearray(prev)
            disposal = 0
            transparent = None
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"GIF bad block marker 0x{b:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return (sw, sh, frames)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channel", IntegerType(), False),
        StructField("mean", DoubleType(), True),
    ]
)


def video_frames_stub(data: bytes) -> Tuple[int, int, List[bytes]]:
    """Frame-decoder slot for real video containers (mp4/webm): no
    pure-Python codec exists for them, so this raises — rows land in
    the skip path of :func:`sample_frames`, and a deployment with
    PyAV/ffmpeg injects its own ``decoder=`` with this signature
    ((w, h, [full-frame RGB bytes])) to light the same plumbing up.
    MJPEG-in-AVI is NOT a stub — :func:`decode_mjpeg_avi` is a real
    decoder (RIFF walk + the repo's own baseline/progressive JPEG
    codec per frame)."""
    mtype, fmt, _, _ = sniff_media(data)
    raise NotImplementedError(
        f"no pure-Python frame decoder for {mtype}/{fmt}; inject decoder="
    )


def _riff_video_chunks(data: bytes, pos: int, end: int, out: List[bytes]) -> None:
    """Walk RIFF chunks in data[pos:end], recursing into LISTs and
    collecting '##dc'/'##db' video-stream payloads in stream order."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body_start = pos + 8
        body_end = body_start + sz
        if body_end > end:
            raise ValueError("AVI chunk overruns its parent")
        if cid in (b"LIST", b"RIFF"):
            # 4-byte list type, then sub-chunks
            _riff_video_chunks(data, body_start + 4, body_end, out)
        elif (
            len(cid) == 4
            and cid[:2].isdigit()
            and cid[2:] in (b"dc", b"db")
        ):
            out.append(data[body_start:body_end])
        pos = body_end + (sz & 1)  # chunks are word-aligned


def decode_mjpeg_avi(data: bytes) -> Tuple[int, int, List[bytes]]:
    """REAL MJPEG-in-AVI frame decode: RIFF chunk walk collecting the
    '##dc'/'##db' video chunks (each a standalone JPEG), decoded with
    the repo's own pure-Python JPEG codec (operators/jpeg.py) —
    the one web video codec reachable without a native library.
    Returns (w, h, [full-frame RGB bytes]); grayscale JPEG frames are
    expanded to RGB so the output contract matches decode_gif_frames.
    Malformed containers/frames raise ValueError (per-row isolation in
    sample_frames)."""
    from .jpeg import decode_jpeg

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    chunks: List[bytes] = []
    _riff_video_chunks(data, 12, min(len(data), 12 + struct.unpack(
        "<I", data[4:8])[0] - 4), chunks)
    if not chunks:
        raise ValueError("AVI has no video chunks")
    frames: List[bytes] = []
    dims: Optional[Tuple[int, int]] = None
    for raw in chunks:
        w, h, ch, px = decode_jpeg(raw)
        if dims is None:
            dims = (w, h)
        elif dims != (w, h):
            raise ValueError("MJPEG frame dimensions vary mid-stream")
        if ch == 1:
            px = bytes(v for g in px for v in (g, g, g))
        elif ch != 3:
            raise ValueError(f"MJPEG frame has {ch} channels")
        frames.append(px)
    return (dims[0], dims[1], frames)


def _avi_video_strf(data: bytes) -> Tuple[int, int, int, bytes]:
    """(width, height, bit_count, compression) from the first video
    'strf' BITMAPINFOHEADER in the hdrl."""
    i = data.find(b"strf")
    if i < 0 or i + 28 > len(data):
        raise ValueError("AVI without a video strf header")
    bih = data[i + 8 :]
    w, h = struct.unpack("<ii", bih[4:12])
    (bits,) = struct.unpack("<H", bih[14:16])
    comp = bih[16:20]
    return (w, abs(h), bits, comp)


def decode_avi_frames(data: bytes) -> Tuple[int, int, List[bytes]]:
    """AVI video frames → (w, h, [full-frame RGB bytes]) for the two
    in-repo-decodable codecs: MJPEG ('MJPG' strf, each chunk a JPEG —
    :func:`decode_mjpeg_avi`) and uncompressed DIB (BI_RGB 24-bit:
    bottom-up, 4-byte-padded BGR rows, converted here). Other FourCCs
    raise NotImplementedError (per-row isolation in sample_frames)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    w, h, bits, comp = _avi_video_strf(data)
    if comp in (b"MJPG", b"mjpg"):
        return decode_mjpeg_avi(data)
    if comp != b"\x00\x00\x00\x00":
        raise NotImplementedError(
            f"no pure-Python decoder for AVI codec {comp!r}"
        )
    if bits != 24:
        raise NotImplementedError(f"DIB AVI {bits}-bit not supported")
    chunks: List[bytes] = []
    _riff_video_chunks(data, 12, min(len(data), 12 + struct.unpack(
        "<I", data[4:8])[0] - 4), chunks)
    if not chunks:
        raise ValueError("AVI has no video chunks")
    stride = (w * 3 + 3) // 4 * 4
    frames: List[bytes] = []
    for raw in chunks:
        if len(raw) < stride * h:
            raise ValueError("DIB frame shorter than its geometry")
        out = bytearray(w * h * 3)
        for r in range(h):
            src = (h - 1 - r) * stride  # bottom-up rows
            dst = r * w * 3
            row = raw[src : src + w * 3]
            for k in range(w):
                out[dst + 3 * k] = row[3 * k + 2]      # B→R
                out[dst + 3 * k + 1] = row[3 * k + 1]
                out[dst + 3 * k + 2] = row[3 * k]      # R→B
        frames.append(bytes(out))
    return (w, h, frames)


def _to_rgba(px: bytes, ch: int) -> bytes:
    """Any decoded channel layout → RGBA (gray/GA expand, RGB gains an
    opaque alpha)."""
    if ch == 4:
        return px
    out = bytearray(len(px) // ch * 4)
    if ch == 1:
        for i, g in enumerate(px):
            out[4 * i] = out[4 * i + 1] = out[4 * i + 2] = g
            out[4 * i + 3] = 255
    elif ch == 2:
        for i in range(len(px) // 2):
            g = px[2 * i]
            out[4 * i] = out[4 * i + 1] = out[4 * i + 2] = g
            out[4 * i + 3] = px[2 * i + 1]
    elif ch == 3:
        for i in range(len(px) // 3):
            out[4 * i : 4 * i + 3] = px[3 * i : 3 * i + 3]
            out[4 * i + 3] = 255
    else:
        raise ValueError(f"cannot normalize {ch}-channel pixels")
    return bytes(out)


def _flatten_rgba(canvas: bytes, n_px: int) -> bytes:
    """RGBA canvas → RGB over black: c·a div 255 (floor — integer,
    deterministic, engine-replayable)."""
    rgb = bytearray(n_px * 3)
    for i in range(n_px):
        a = canvas[4 * i + 3]
        if a == 255:
            rgb[3 * i : 3 * i + 3] = canvas[4 * i : 4 * i + 3]
        elif a:
            for c in range(3):
                rgb[3 * i + c] = canvas[4 * i + c] * a // 255
    return bytes(rgb)


def _compose_anim(
    cw: int,
    chh: int,
    frames,
    max_frames: Optional[int] = None,
) -> List[bytes]:
    """Shared APNG/animated-WebP compositor: full-canvas RGB output per
    frame. ``frames`` yields (x, y, fw, fh, rgba, dispose, blend) with
    dispose 0=none / 1=background (clear region) / 2=previous (revert)
    and blend 0=source (overwrite) / 1=over (alpha composite). The
    output buffer starts transparent black; OVER uses exact rational
    arithmetic floored per channel (out_c = (sc·sa·255 + dc·da·(255-sa))
    div (sa·255 + da·(255-sa))) so every engine/test replays it
    bit-for-bit. Dispose applies AFTER the frame is emitted (APNG
    semantics; WebP only uses 0/1)."""
    # allocation guard BEFORE the canvas exists: a corrupt header can
    # request a multi-GB buffer whose C-level allocation is not even
    # signal-interruptible (same 64M-pixel limit as the GIF decoder)
    if not 0 < cw * chh <= 64_000_000:
        raise ValueError(f"animation canvas {cw}x{chh} out of range")
    canvas = bytearray(cw * chh * 4)
    out: List[bytes] = []
    for x, y, fw, fh, rgba, dispose, blend in frames:
        if x < 0 or y < 0 or x + fw > cw or y + fh > chh:
            raise ValueError("animation frame rect outside canvas")
        if len(rgba) != fw * fh * 4:
            raise ValueError("animation frame pixel buffer size mismatch")
        saved = bytes(canvas) if dispose == 2 else None
        for r in range(fh):
            ci = ((y + r) * cw + x) * 4
            si = r * fw * 4
            if blend == 0:
                canvas[ci : ci + fw * 4] = rgba[si : si + fw * 4]
            else:
                for k in range(fw):
                    sa = rgba[si + 4 * k + 3]
                    if sa == 255:
                        canvas[ci + 4 * k : ci + 4 * k + 4] = rgba[
                            si + 4 * k : si + 4 * k + 4
                        ]
                    elif sa:
                        da = canvas[ci + 4 * k + 3]
                        num_a = sa * 255 + da * (255 - sa)
                        for c in range(3):
                            sc = rgba[si + 4 * k + c]
                            dc = canvas[ci + 4 * k + c]
                            canvas[ci + 4 * k + c] = (
                                (sc * sa * 255 + dc * da * (255 - sa))
                                // num_a
                            )
                        canvas[ci + 4 * k + 3] = num_a // 255
        out.append(_flatten_rgba(canvas, cw * chh))
        if max_frames is not None and len(out) >= max_frames:
            break
        if dispose == 1:
            for r in range(fh):
                ci = ((y + r) * cw + x) * 4
                canvas[ci : ci + fw * 4] = b"\x00" * (fw * 4)
        elif dispose == 2:
            canvas = bytearray(saved)
    return out


def decode_apng_frames(
    data: bytes, max_frames: Optional[int] = None
) -> Tuple[int, int, List[bytes]]:
    """REAL APNG decode → (canvas_w, canvas_h, [full-canvas RGB bytes
    per frame]): acTL/fcTL/fdAT chunk walk, each frame's compressed
    stream rebuilt into a standalone PNG and decoded with the repo's
    own :func:`decode_png` (full color-type/bit-depth matrix for
    free), then composited with the shared dispose/blend rules. A PNG
    without acTL decodes as its single frame; a default image (IDAT
    before the first fcTL) is not part of the animation, per spec."""
    try:
        return _decode_apng_impl(data, max_frames)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt APNG stream: {type(ex).__name__}: {ex}") from ex


def _decode_apng_impl(
    data: bytes, max_frames: Optional[int]
) -> Tuple[int, int, List[bytes]]:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    ihdr: Optional[bytes] = None
    extra = b""  # PLTE/tRNS, replayed into every frame's standalone PNG
    have_actl = False
    frames: List[dict] = []  # {'ctl': (fw,fh,x,y,dispose,blend), 'data': []}
    idat_owner: Optional[dict] = None
    seen_idat = False
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            ihdr = body
        elif tag in (b"PLTE", b"tRNS"):
            extra += _png_chunk(tag, body)
        elif tag == b"acTL":
            have_actl = True
        elif tag == b"fcTL":
            if len(body) < 26:
                raise ValueError("short fcTL chunk")
            fw, fh, fx, fy = struct.unpack(">IIII", body[4:20])
            dispose, blend = body[24], body[25]
            fr = {"ctl": (fw, fh, fx, fy, dispose, blend), "data": []}
            frames.append(fr)
            if not seen_idat:
                idat_owner = fr
        elif tag == b"IDAT":
            seen_idat = True
            if idat_owner is not None:
                idat_owner["data"].append(body)
        elif tag == b"fdAT":
            if len(body) < 4:
                raise ValueError("short fdAT chunk")
            if frames:
                frames[-1]["data"].append(body[4:])
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    cw, chh = struct.unpack(">II", ihdr[:8])
    if not have_actl:
        w, h, ch, px = decode_png(data)
        return (w, h, [_flatten_rgba(_to_rgba(px, ch), w * h)])
    frames = [f for f in frames if f["data"]]
    if not frames:
        raise ValueError("APNG without animation frames")
    if frames and frames[0]["ctl"][4] == 2:
        # spec: DISPOSE_OP_PREVIOUS on the first frame acts as BACKGROUND
        fw, fh, fx, fy, _, blend = frames[0]["ctl"]
        frames[0]["ctl"] = (fw, fh, fx, fy, 1, blend)

    def gen():
        for fr in frames:
            fw, fh, fx, fy, dispose, blend = fr["ctl"]
            sub = (
                data[:8]
                + _png_chunk(
                    b"IHDR",
                    struct.pack(">II", fw, fh) + ihdr[8:],
                )
                + extra
                + b"".join(_png_chunk(b"IDAT", d) for d in fr["data"])
                + _png_chunk(b"IEND", b"")
            )
            w, h, ch, px = decode_png(sub)
            yield (fx, fy, w, h, _to_rgba(px, ch), dispose, blend)

    out = _compose_anim(cw, chh, gen(), max_frames)
    return (cw, chh, out)


def decode_webp_anim_frames(
    data: bytes, max_frames: Optional[int] = None
) -> Tuple[int, int, List[bytes]]:
    """REAL animated-WebP decode → (canvas_w, canvas_h, [full-canvas
    RGB bytes per frame]): VP8X/ANIM/ANMF walk (vp8l.parse_webp_anim),
    each sub-bitstream decoded with the repo's VP8L decoder, composited
    with the shared dispose/blend rules. A non-animated WebP decodes as
    its single VP8L frame; lossy VP8 raises NotImplementedError."""
    from .vp8l import decode_webp, parse_webp_anim

    try:
        cw, chh, frames = parse_webp_anim(data)
    except ValueError as ex:
        if "not a WebP" in str(ex):
            raise
        # VP8X without the anim flag / no VP8X at all: plain still image
        w, h, ch, px = decode_webp(data)
        return (w, h, [_flatten_rgba(_to_rgba(px, ch), w * h)])
    out = _compose_anim(cw, chh, iter(frames), max_frames)
    return (cw, chh, out)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    decoder: Optional[Callable] = None,
) -> DataFrame:
    """Evenly-spaced frame sampling — the frame-sample primitive a
    video/animation training pipeline needs. The default decoder is
    REAL for animated GIF (:func:`decode_gif_frames`), MJPEG-in-AVI
    (:func:`decode_mjpeg_avi`), APNG (:func:`decode_apng_frames`) and
    animated lossless WebP (:func:`decode_webp_anim_frames`), and
    raises for other video containers (:func:`video_frames_stub`);
    inject ``decoder=``
    (bytes → (w, h, [RGB frames])) to back it with a real video codec
    — batch shape, schema and sampling rule are identical. Emits
    per-sampled-frame per-channel exact means (integer sums, so
    partition-order independent); undecodable rows are skipped like
    resize_media."""
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")

    def default_decoder(data: bytes) -> Tuple[int, int, List[bytes]]:
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif_frames(data)
        if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
            return decode_avi_frames(data)
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_apng_frames(data)
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            return decode_webp_anim_frames(data)
        return video_frames_stub(data)

    dec = decoder or default_decoder

    def row_fn(mid, raw):
        try:
            sw, sh, frames = dec(bytes(raw))
        except (ValueError, NotImplementedError, zlib.error):
            # zlib.error: APNG/PNG frame streams surface it raw
            return
        total = len(frames)
        if total <= n_frames:
            picks = list(range(total))
        else:
            picks = sorted(
                {
                    k * (total - 1) // (n_frames - 1) if n_frames > 1 else 0
                    for k in range(n_frames)
                }
            )
        n_px = sw * sh
        for fi in picks:
            px = frames[fi]
            for c in range(3):
                s = sum(px[c::3])
                yield (str(mid), fi, total, sw, sh, c, s / n_px if n_px else 0.0)

    return map_rows(df.select("media_id", "blob"), FRAME_SCHEMA, lambda: row_fn)


def _gif_interlace_order(height: int) -> List[int]:
    """Display-row order of the 4 GIF interlace passes: rows 0,8,16...
    then 4,12..., then 2,6..., then 1,3,5... — the storage order of an
    interlaced frame's rows."""
    order: List[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def decode_wav(data: bytes) -> Tuple[int, int, int, List[int]]:
    """Error-contained wrapper: malformed WAV input raises ValueError
    (struct.error/IndexError never escape the per-row containment)."""
    try:
        return _decode_wav_impl(data)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt WAV stream: {type(ex).__name__}: {ex}") from ex


def _f80_to_int(b: bytes) -> int:
    """80-bit IEEE 754 extended-precision BE → nearest int (the AIFF
    COMM sample-rate field; real rates are exact integers)."""
    if len(b) != 10:
        raise ValueError("extended float must be 10 bytes")
    sign = -1 if b[0] & 0x80 else 1
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0
    shift = exp - 16383 - 63
    v = mant << shift if shift >= 0 else (mant + (1 << (-shift - 1))) >> -shift
    return sign * v


def decode_aiff(data: bytes) -> Tuple[int, int, int, List[int]]:
    """REAL pure-stdlib AIFF/AIFF-C decode → (channels, sample_rate,
    n_frames, interleaved samples): FORM chunk walk, COMM (channel
    count, frame count, bit depth, 80-bit-extended sample rate), SSND
    payload. AIFF PCM is big-endian SIGNED at every depth (8-bit too —
    unlike WAV); AIFF-C is accepted for compression 'NONE' (BE) and
    'sowt' (the Apple little-endian variant), anything else raises
    NotImplementedError. Malformed input raises ValueError."""
    try:
        return _decode_aiff_impl(data)
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt AIFF stream: {type(ex).__name__}: {ex}") from ex


def _decode_aiff_impl(data: bytes) -> Tuple[int, int, int, List[int]]:
    if data[:4] != b"FORM" or data[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF")
    is_aifc = data[8:12] == b"AIFC"
    pos = 12
    channels = rate = bits = n_frames = None
    little = False
    payload: Optional[bytes] = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (clen,) = struct.unpack(">I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if tag == b"COMM":
            if len(body) < 18:
                raise ValueError("short COMM chunk")
            channels, n_frames, bits = struct.unpack(">hIh", body[:8])
            rate = _f80_to_int(body[8:18])
            if is_aifc and len(body) >= 22:
                comp = body[18:22]
                if comp == b"sowt":
                    little = True
                elif comp != b"NONE":
                    raise NotImplementedError(
                        f"AIFF-C compression {comp!r} not supported"
                    )
        elif tag == b"SSND":
            if len(body) < 8:
                raise ValueError("short SSND chunk")
            (off,) = struct.unpack(">I", body[:4])
            payload = body[8 + off :]
        pos += 8 + clen + (clen & 1)
    if channels is None or payload is None:
        raise ValueError("AIFF missing COMM or SSND")
    if rate <= 0 or n_frames < 0 or channels < 1:
        # a byte-flipped 80-bit rate field decodes to <= 0; letting it
        # through would feed plausible-looking garbage durations into
        # audio_features instead of the error column
        raise ValueError(
            "AIFF has invalid COMM "
            f"(rate={rate}, channels={channels}, frames={n_frames})"
        )
    if bits not in (8, 16, 24, 32):
        raise NotImplementedError(f"AIFF {bits}-bit not supported")
    step = bits // 8
    total = n_frames * channels
    if len(payload) < total * step:
        raise ValueError("SSND shorter than COMM frame count")
    samples: List[int] = []
    order = "little" if little else "big"
    for i in range(total):
        samples.append(
            int.from_bytes(payload[i * step : (i + 1) * step], order, signed=True)
        )
    return (channels, rate, n_frames, samples)


def decode_audio(data: bytes) -> Tuple[int, int, int, List[int]]:
    """bytes → (channels, sample_rate, n_frames, interleaved samples):
    REAL decode for PCM WAV, FLAC (operators/flac.py — constant/
    verbatim/fixed/LPC subframes, Rice residuals, stereo
    decorrelation, CRC-verified) and AIFF/AIFF-C PCM. One dispatcher
    so every audio consumer (features, fingerprints, near-dup) covers
    all containers with no caller changes. Other formats raise
    NotImplementedError (per-row isolated everywhere)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return decode_wav(data)
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        return decode_aiff(data)
    if data[:4] == b"fLaC":
        from .flac import decode_flac

        try:
            return decode_flac(data)
        except (struct.error, IndexError) as ex:
            raise ValueError(
                f"corrupt FLAC stream: {type(ex).__name__}: {ex}"
            ) from ex
    mtype, fmt, _, _ = sniff_media(data)
    raise NotImplementedError(
        f"no pure-Python audio decoder for {mtype}/{fmt}; WAV and FLAC "
        "are supported"
    )


def _mulaw_expand(b: int) -> int:
    """G.711 µ-law byte → 16-bit linear sample (standard formula)."""
    b = ~b & 0xFF
    sign = b & 0x80
    exponent = (b >> 4) & 0x07
    mantissa = b & 0x0F
    s = ((mantissa << 3) | 0x84) << exponent
    s -= 0x84
    return -s if sign else s


def _alaw_expand(b: int) -> int:
    """G.711 A-law byte → 16-bit linear sample (standard formula)."""
    b ^= 0x55
    sign = b & 0x80
    exponent = (b >> 4) & 0x07
    mantissa = b & 0x0F
    if exponent == 0:
        s = (mantissa << 4) | 0x08
    else:
        s = ((mantissa << 4) | 0x108) << (exponent - 1)
    return -s if sign else s


def _decode_wav_impl(data: bytes) -> Tuple[int, int, int, List[int]]:
    """Real pure-Python WAV decode: (channels, sample_rate, n_frames,
    samples) — stdlib only, RIFF/WAVE fmt+data chunk walk with unknown
    chunks skipped by declared size, as the spec requires. Formats:
    PCM 8 (unsigned, recentred) / 16 / 24 / 32-bit (signed LE), and
    G.711 µ-law (format 7) and A-law (format 6) telephony bytes
    expanded with the standard closed-form formulas. WAVE_FORMAT_
    EXTENSIBLE (0xFFFE) resolves through its SubFormat GUID. ``samples``
    is the interleaved stream as Python ints — exact, no float path.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    channels = rate = bits = audio_format = None
    frames: Optional[bytes] = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk truncated")
            audio_format, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_format == 0xFFFE and len(body) >= 40:
                # WAVE_FORMAT_EXTENSIBLE: the real format is the first
                # two bytes of the SubFormat GUID
                (audio_format,) = struct.unpack("<H", body[24:26])
            if audio_format not in (1, 6, 7):
                raise NotImplementedError(
                    f"WAV audio format {audio_format} unsupported "
                    "(PCM, A-law, mu-law)"
                )
        elif tag == b"data":
            frames = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if channels is None or frames is None:
        raise ValueError("WAV missing fmt or data chunk")
    if channels < 1 or (rate is not None and rate < 1):
        raise ValueError(f"WAV fmt declares channels={channels} rate={rate}")
    if audio_format == 7:
        samples = [_mulaw_expand(b) for b in frames]
    elif audio_format == 6:
        samples = [_alaw_expand(b) for b in frames]
    elif bits == 16:
        n = len(frames) // 2
        samples = list(struct.unpack(f"<{n}h", frames[: n * 2]))
    elif bits == 8:
        samples = [b - 128 for b in frames]
    elif bits in (24, 32):
        w = bits // 8
        n = len(frames) // w
        half = 1 << (bits - 1)
        full = 1 << bits
        samples = []
        for i in range(n):
            v = int.from_bytes(frames[i * w : (i + 1) * w], "little")
            samples.append(v - full if v >= half else v)
    else:
        raise NotImplementedError(
            f"WAV bit depth {bits} unsupported (8/16/24/32)"
        )
    return (channels, rate, len(samples) // channels, samples)


# MPEG-1/2 Layer III bitrate (kbps) and sample-rate tables, header-only
_MP3_BITRATES = {
    1: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {1: [44100, 48000, 32000], 2: [22050, 24000, 16000]}


def mp3_info(data: bytes) -> dict:
    """Header-only MP3 facts: {'bitrate_kbps', 'sample_rate',
    'channels', 'duration_ms', 'id3_bytes'} from the first Layer-III
    frame header after any ID3v2 tag.

    duration_ms: a Xing/Info tag (after the side info) or a VBRI tag
    (fixed 32 bytes after the header) carries the total FRAME count —
    frames × samples-per-frame / rate is the correct VBR duration (the
    majority of web MP3s are VBR; CBR math over the first header's
    bitrate would be wrong for all of them). Without a VBR tag the CBR
    estimate (audio bytes × 8 / bitrate) is the honest header-only
    answer. Returns {} when no valid frame header is found."""
    if len(data) < 4:
        return {}
    pos = 0
    id3 = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        id3 = 10 + (
            (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        )
        pos = id3
    # scan a bounded window for the frame sync (junk may precede it)
    limit = min(len(data) - 4, pos + 4096)
    while pos <= limit:
        b1, b2 = data[pos], data[pos + 1]
        if b1 == 0xFF and (b2 & 0xE0) == 0xE0:
            version = (b2 >> 3) & 0x03  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
            layer = (b2 >> 1) & 0x03  # 1 = Layer III
            if version in (2, 3) and layer == 1:
                v = 1 if version == 3 else 2
                br_idx = data[pos + 2] >> 4
                sr_idx = (data[pos + 2] >> 2) & 0x03
                if 0 < br_idx < 15 and sr_idx < 3:
                    bitrate = _MP3_BITRATES[v][br_idx]
                    rate = _MP3_RATES[v][sr_idx]
                    mode = (data[pos + 3] >> 6) & 0x03
                    audio_bytes = len(data) - pos
                    spf = 1152 if v == 1 else 576  # Layer III samples/frame
                    # Xing/Info sits after the side info (MPEG1: 17 mono /
                    # 32 stereo; MPEG2: 9 / 17); VBRI at a fixed 32 bytes
                    # past the header (Fraunhofer spec).
                    if v == 1:
                        side = 17 if mode == 3 else 32
                    else:
                        side = 9 if mode == 3 else 17
                    frames = 0
                    xo = pos + 4 + side
                    if data[xo : xo + 4] in (b"Xing", b"Info"):
                        if len(data) >= xo + 12:
                            (flags,) = struct.unpack(
                                ">I", data[xo + 4 : xo + 8]
                            )
                            if flags & 0x01:  # frame count present
                                (frames,) = struct.unpack(
                                    ">I", data[xo + 8 : xo + 12]
                                )
                    else:
                        vo = pos + 4 + 32
                        if (
                            data[vo : vo + 4] == b"VBRI"
                            and len(data) >= vo + 18
                        ):
                            (frames,) = struct.unpack(
                                ">I", data[vo + 14 : vo + 18]
                            )
                    if frames:
                        duration = frames * spf * 1000 // rate
                    else:
                        duration = audio_bytes * 8 // bitrate
                    return {
                        "bitrate_kbps": bitrate,
                        "sample_rate": rate,
                        "channels": 1 if mode == 3 else 2,
                        "duration_ms": duration,
                        "id3_bytes": id3,
                    }
        pos += 1
    return {}


_ID3_TEXT_FRAMES = {
    "TIT2": "title",
    "TPE1": "artist",
    "TALB": "album",
    "TDRC": "year",
    "TYER": "year",
}


def id3_tags(data: bytes) -> dict:
    """ID3v2.3/2.4 text frames (title/artist/album/year) — the audio
    provenance analog of :func:`parse_exif`. Encoding bytes 0 (latin-1)
    and 3 (utf-8) and the common 1 (utf-16 BOM) are honoured; frames
    outside the tag length or malformed are skipped, never raised."""
    if data[:3] != b"ID3" or len(data) < 10:
        return {}
    ver = data[3]
    size = (
        ((data[6] & 0x7F) << 21)
        | ((data[7] & 0x7F) << 14)
        | ((data[8] & 0x7F) << 7)
        | (data[9] & 0x7F)
    )
    end = min(len(data), 10 + size)
    pos = 10
    out: dict = {}
    while pos + 10 <= end:
        fid = data[pos : pos + 4]
        if not fid.strip(b"\x00"):
            break  # padding
        raw_sz = data[pos + 4 : pos + 8]
        if ver >= 4:  # syncsafe in v2.4
            fsz = (
                ((raw_sz[0] & 0x7F) << 21)
                | ((raw_sz[1] & 0x7F) << 14)
                | ((raw_sz[2] & 0x7F) << 7)
                | (raw_sz[3] & 0x7F)
            )
        else:
            fsz = int.from_bytes(raw_sz, "big")
        body = data[pos + 10 : pos + 10 + fsz]
        pos += 10 + fsz
        if len(body) < 1:
            continue
        key = _ID3_TEXT_FRAMES.get(fid.decode("latin-1", "replace"))
        if key is None or key in out:
            continue
        enc, payload = body[0], body[1:]
        try:
            if enc == 0:
                val = payload.decode("latin-1")
            elif enc == 1:
                val = payload.decode("utf-16")
            elif enc == 3:
                val = payload.decode("utf-8")
            else:
                continue
        except UnicodeDecodeError:
            continue
        val = val.rstrip("\x00")
        if val:
            out[key] = val
    return out


_MP4_CONTAINERS = frozenset(
    {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta"}
)


def mp4_info(data: bytes) -> dict:
    """Header-only MP4/ISO-BMFF facts: {'duration_ms', 'width',
    'height', 'n_tracks', 'codecs'} from the box tree (ftyp/moov/mvhd/
    trak/tkhd/stsd) — no codec decode, pure byte walk. Handles 32- and
    64-bit box sizes and mvhd/tkhd versions 0/1. Returns {} when no
    moov is present (e.g. a fragmented or truncated stream)."""
    out: dict = {}
    codecs: List[str] = []
    n_tracks = 0

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        nonlocal n_tracks
        pos = lo
        while pos + 8 <= hi and depth < 8:
            (size,) = struct.unpack(">I", data[pos : pos + 4])
            btype = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit size
                if pos + 16 > hi:
                    return
                (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
                body = pos + 16
            elif size == 0:  # to end of enclosing box
                size = hi - pos
            if size < 8 or pos + size > hi:
                return  # malformed: stop walking, keep what we have
            if btype in _MP4_CONTAINERS:
                if btype == b"trak":
                    n_tracks += 1
                walk(body, pos + size, depth + 1)
            elif btype == b"mvhd" and body + 4 <= hi:
                ver = data[body]
                if ver == 1 and body + 32 <= hi:
                    tsc, dur = struct.unpack(">IQ", data[body + 20 : body + 32])
                else:
                    tsc, dur = struct.unpack(">II", data[body + 12 : body + 20])
                if tsc:
                    out["duration_ms"] = dur * 1000 // tsc
            elif btype == b"tkhd":
                # width/height are 16.16 fixed point at the box tail
                end = pos + size
                if end - 8 >= body:
                    w, h = struct.unpack(">II", data[end - 8 : end])
                    w, h = w >> 16, h >> 16
                    if w and h:  # audio tracks carry 0x0
                        out.setdefault("width", w)
                        out.setdefault("height", h)
            elif btype == b"stsd" and body + 16 <= hi:
                fourcc = data[body + 12 : body + 16]
                if fourcc.isalnum():
                    codecs.append(fourcc.decode("ascii"))
            pos += size  # advance to the sibling box

    try:
        walk(0, len(data))
    except (struct.error, IndexError):
        pass
    if not out and not codecs and n_tracks == 0:
        return {}
    out["n_tracks"] = n_tracks
    out["codecs"] = ",".join(codecs)
    return out


AUDIO_INFO_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("bitrate_kbps", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("id3_bytes", LongType(), True),
    ]
)


def audio_info(df: DataFrame) -> DataFrame:
    """(media_id, blob) → header-only MP3 facts (:func:`mp3_info`) —
    bytes-local, no decode; non-MP3 rows yield all-null fields."""
    return _header_facts(df, AUDIO_INFO_SCHEMA, mp3_info)


VIDEO_INFO_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("duration_ms", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_tracks", IntegerType(), True),
        StructField("codecs", StringType(), True),
    ]
)


def video_info(df: DataFrame) -> DataFrame:
    """(media_id, blob) → header-only MP4 facts (:func:`mp4_info`) —
    bytes-local, no decode; non-MP4 rows yield all-null fields."""
    return _header_facts(df, VIDEO_INFO_SCHEMA, mp4_info)


AUDIO_TAGS_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("title", StringType(), True),
        StructField("artist", StringType(), True),
        StructField("album", StringType(), True),
        StructField("year", StringType(), True),
    ]
)


def audio_tags(df: DataFrame) -> DataFrame:
    """(media_id, blob) → ID3v2 text-frame provenance (:func:`id3_tags`);
    untagged rows yield all-null fields."""
    return _header_facts(df, AUDIO_TAGS_SCHEMA, id3_tags)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("n_channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("mean_abs", LongType(), True),
        StructField("peak_abs", LongType(), True),
        StructField("zero_crossings", LongType(), True),
        StructField("error", StringType(), True),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """Audio decode + feature stage: per-row WAV or FLAC decode (REAL,
    pure stdlib — :func:`decode_audio`) → integer acoustics over
    channel 0 — duration_ms (n*1000 div rate), mean absolute amplitude
    (floored), peak, and zero crossings (sign products < 0).
    All-integer so every value is bit-reproducible on any engine;
    decode failures land in the ``error`` column instead of poisoning
    the batch (same contract as the image path)."""

    def row_fn(mid, raw):
        data = bytes(raw) if raw is not None else b""
        try:
            ch, rate, n_frames, samples = decode_audio(data)
            mono = samples[::ch]  # channel 0
            n = len(mono)
            sum_abs = sum(abs(s) for s in mono)
            zc = sum(1 for i in range(1, n) if mono[i - 1] * mono[i] < 0)
            row = (
                str(mid), ch, rate, n,
                n * 1000 // rate if rate else 0,
                sum_abs // n if n else 0,
                max((abs(s) for s in mono), default=0),
                zc, None,
            )
        except (ValueError, NotImplementedError, struct.error) as ex:
            row = (str(mid), None, None, None, None, None, None, None,
                   f"{type(ex).__name__}: {ex}")
        yield row

    return map_rows(
        df.select("media_id", "blob"), AUDIO_FEATURE_SCHEMA, lambda: row_fn
    )


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def extract_features(df: DataFrame, decoder: Optional[Callable] = None) -> DataFrame:
    """Decode + feature-extract stage (long format: one row per feature).

    `decoder(data: bytes) -> list[(feature, value)]`. The default decoder
    is REAL for PNG (pure-stdlib :func:`decode_png`): it emits width,
    height, channels and exact per-channel pixel means (integer sums, so
    deterministic — no float accumulation order issues). Formats without
    a pure-Python decoder land as a 'decode_unavailable' marker feature
    so the pipeline shape is exercised end-to-end regardless.
    """

    def default_decoder(data: bytes) -> List[tuple]:
        w, h, ch, px = decode_image(data)
        feats = [
            ("width", float(w)),
            ("height", float(h)),
            ("channels", float(ch)),
        ]
        n = w * h
        for c in range(ch):
            s = sum(px[c::ch])  # exact integer sum over the channel plane
            feats.append((f"mean_c{c}", s / n if n else 0.0))
        return feats

    dec = decoder or default_decoder

    def row_fn(mid, raw):
        data = bytes(raw) if raw is not None else b""
        try:
            for name, value in dec(data):
                yield (str(mid), name, float(value))
        except NotImplementedError:
            yield (str(mid), "decode_unavailable", 0.0)
        except (ValueError, zlib.error):
            yield (str(mid), "decode_error", 0.0)

    return map_rows(df.select("media_id", "blob"), FEATURE_SCHEMA, lambda: row_fn)


def resize_nearest(
    pixels: bytes, w: int, h: int, channels: int, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resample of a raw interleaved pixel buffer.

    Deterministic sample points at the target-pixel centers:
    src = min(dim-1, int((dst + 0.5) * dim / out_dim)) — the standard
    nearest rule, replicated exactly in the DuckDB gate.
    """
    out = bytearray(out_w * out_h * channels)
    for dy in range(out_h):
        sy = min(h - 1, int((dy + 0.5) * h / out_h))
        for dx in range(out_w):
            sx = min(w - 1, int((dx + 0.5) * w / out_w))
            sp = (sy * w + sx) * channels
            dp = (dy * out_w + dx) * channels
            out[dp : dp + channels] = pixels[sp : sp + channels]
    return bytes(out)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("channel", IntegerType(), False),
        StructField("pix_sum", LongType(), True),
    ]
)


def resize_media(
    df: DataFrame,
    out_w: int = 4,
    out_h: int = 4,
) -> DataFrame:
    """Decode → nearest-neighbor resize → per-channel pixel SUMS of the
    resized image (long format: one row per channel).

    Integer sums (not means) keep the output bit-stable. Decoding is
    :func:`decode_image`; formats it cannot decode raise inside it and
    the row is skipped, same degrade contract as
    :func:`extract_features`. The thumbnailing step of a multimodal
    training pipeline — Arrow-batched, never row-at-a-time Python UDFs.
    """
    def row_fn(mid, raw):
        data = bytes(raw) if raw is not None else b""
        try:
            w, h, ch, px = decode_image(data)
        except (NotImplementedError, ValueError, zlib.error):
            return
        small = resize_nearest(px, w, h, ch, out_w, out_h)
        for c in range(ch):
            yield (str(mid), c, sum(small[c::ch]))

    return map_rows(df.select("media_id", "blob"), RESIZE_SCHEMA, lambda: row_fn)
