"""WARC source: read Common-Crawl-style web archives into the pages
DataFrame.

Real crawl corpora arrive as WARC files (ISO 28500): length-framed
records with WARC headers, response records carrying a full HTTP
message. WARC is sequential by construction (each record's length is in
its header), so the unit of parallelism is the FILE — exactly how
Common Crawl ships (tens of thousands of ~1 GB segment files): Spark's
``binaryFile`` source gives one row per file and the parser runs
per-file inside ``mapInPandas``. At 100 TB this is embarrassingly
parallel as long as individual files stay bounded, which the CC layout
guarantees.

The parser is pure stdlib and deliberately tolerant: unknown record
types are skipped, a malformed record aborts THAT FILE with an error
row (never the job), and the HTTP payload split handles both CRLF and
bare-LF header endings.

Real Common Crawl ships ``.warc.gz``: each record is its OWN gzip
member and the members are concatenated, so a range request can start
at any record boundary. The reader sniffs the gzip magic per file (not
the extension) and walks members with one streaming ``zlib``
decompressobj per member — ``unused_data`` hands back the start of the
next member, so the whole file is never recompressed or copied twice.
HTTP payloads declaring ``Transfer-Encoding: chunked`` are de-chunked
(crawlers commonly store the wire bytes verbatim).
"""

from __future__ import annotations

import zlib
from typing import Iterator, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.columns import map_rows

__all__ = [
    "parse_warc_records",
    "read_warc",
    "gunzip_members",
]

_GZIP_MAGIC = b"\x1f\x8b"


def gunzip_members(data: bytes) -> bytes:
    """Concatenated gzip members → concatenated plain bytes.

    Common Crawl compresses each WARC record as an independent gzip
    member (so byte-range fetches can start at record boundaries);
    stdlib ``gzip.decompress`` only handles that by accident and older
    APIs stop at the first member. This walks members explicitly with
    ``zlib.decompressobj(wbits=31)`` and re-arms on ``unused_data``.
    Trailing garbage that is not a gzip member raises ValueError so the
    per-file error-row containment in :func:`read_warc` reports it."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 2] != _GZIP_MAGIC:
            raise ValueError(
                f"expected gzip member at byte {pos} of .warc.gz stream"
            )
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(data[pos:])
        except zlib.error as ex:
            raise ValueError(f"corrupt gzip member at byte {pos}: {ex}")
        if not d.eof:
            raise ValueError(f"truncated gzip member at byte {pos}")
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:  # zero-progress guard against infinite loop
            raise ValueError(f"empty gzip member at byte {pos}")
        pos += consumed
    return bytes(out)


def _dechunk(payload: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-coding body: hex size line
    (optional ;extensions), chunk bytes, CRLF — until the 0 chunk.
    Tolerates bare-LF line endings; trailers after the 0 chunk are
    dropped. Framing errors raise ValueError (caller contains them
    per-file)."""
    out = bytearray()
    pos = 0
    n = len(payload)
    while True:
        eol = payload.find(b"\n", pos)
        if eol == -1:
            raise ValueError("chunked body: missing chunk-size line")
        line = payload[pos:eol].strip(b"\r")
        size_tok = line.split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise ValueError(f"chunked body: bad chunk size {size_tok!r}")
        pos = eol + 1
        if size == 0:
            return bytes(out)
        chunk = payload[pos : pos + size]
        if len(chunk) != size:
            raise ValueError("chunked body: truncated chunk")
        out += chunk
        pos += size
        # consume the CRLF/LF that terminates the chunk data
        if payload[pos : pos + 2] == b"\r\n":
            pos += 2
        elif payload[pos : pos + 1] == b"\n":
            pos += 1
        else:
            raise ValueError("chunked body: missing chunk terminator")

WARC_PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("warc_file", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def _declares_chunked(http_headers_lower: str) -> bool:
    """True when the (lowercased) HTTP header block's Transfer-Encoding
    names chunked as its final coding (RFC 9112 §6.1)."""
    for line in http_headers_lower.splitlines():
        if line.startswith("transfer-encoding:"):
            codings = [c.strip() for c in line.split(":", 1)[1].split(",")]
            return bool(codings) and codings[-1] == "chunked"
    return False


def parse_warc_records(data: bytes) -> Iterator[Tuple[str, str, bytes]]:
    """Yield (target_uri, warc_date, http_body) for each response
    record. Non-response records (warcinfo, request, metadata) are
    skipped by their declared Content-Length; framing errors raise.
    Gzipped input (``.warc.gz``) must be expanded first — see
    :func:`gunzip_members`; chunked HTTP bodies are de-chunked here."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        while pos < n and data[pos : pos + 1] == b"\n":
            pos += 1
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"bad WARC record start at byte {pos}")
        hdr_end = data.find(b"\r\n\r\n", pos)
        sep = 4
        lf_end = data.find(b"\n\n", pos)
        if hdr_end == -1 or (lf_end != -1 and lf_end < hdr_end):
            hdr_end, sep = lf_end, 2
        if hdr_end == -1:
            raise ValueError("unterminated WARC header block")
        headers = {}
        for line in data[pos:hdr_end].decode("latin-1").splitlines()[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing a valid Content-Length")
        body_start = hdr_end + sep
        body = data[body_start : body_start + clen]
        if len(body) != clen:
            raise ValueError("truncated WARC record body")
        pos = body_start + clen
        if headers.get("warc-type") == "response":
            # split the HTTP message: headers end at the first blank line
            he = body.find(b"\r\n\r\n")
            hsep = 4
            lfe = body.find(b"\n\n")
            if he == -1 or (lfe != -1 and lfe < he):
                he, hsep = lfe, 2
            payload = body[he + hsep :] if he != -1 else body
            if he != -1:
                # crawlers store wire bytes verbatim — undo chunked TE
                http_hdrs = body[:he].decode("latin-1", "replace").lower()
                if _declares_chunked(http_hdrs):
                    payload = _dechunk(payload)
            yield (
                headers.get("warc-target-uri", ""),
                headers.get("warc-date", ""),
                payload,
            )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files under ``path`` (glob ok) → (url, warc_ts, html,
    warc_file, error). One task per file (binaryFile source); a
    malformed file yields a single error row carrying its path."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def row_fn(fpath, content):
        # buffer per file: a mid-file framing error must drop
        # the records already parsed from THAT file, or a
        # re-fetch of the flagged file would duplicate them
        frows: List[tuple] = []
        try:
            raw = bytes(content)
            if raw[:2] == _GZIP_MAGIC:  # sniff, not extension
                raw = gunzip_members(raw)
            for uri, date, payload in parse_warc_records(raw):
                ts = None
                if date:
                    ts = pd.Timestamp(date.replace("Z", "+00:00"))
                    ts = ts.tz_convert(None) if ts.tzinfo else ts
                frows.append((uri, ts, payload, fpath, None))
        except ValueError as ex:
            return [(None, None, None, fpath, str(ex))]
        return frows

    return map_rows(
        files.select("path", "content"), WARC_PAGES_SCHEMA, lambda: row_fn
    )
