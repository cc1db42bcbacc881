"""WARC source (sources/warc.py): record framing, HTTP payload split,
per-file error isolation."""

import pytest

from cmc_knowledge_graph_text2ttl_spark.sources import warc as W
from fixture_writers import build_warc


class TestParse:
    def test_roundtrip(self):
        recs = [
            ("http://a/1", "2024-01-01T00:00:00Z", b"<html>one</html>"),
            ("http://a/2", "2024-01-02T00:00:00Z", b"<html>two</html>"),
        ]
        got = list(W.parse_warc_records(build_warc(recs)))
        assert got == recs

    def test_skips_non_response_records(self):
        info = (
            b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 5\r\n\r\n"
            b"hello\r\n\r\n"
        )
        resp = build_warc([("http://x", "2024-01-01T00:00:00Z", b"body")])
        got = list(W.parse_warc_records(info + resp))
        assert got == [("http://x", "2024-01-01T00:00:00Z", b"body")]

    def test_bare_lf_header_endings(self):
        body = b"HTTP/1.1 200 OK\n\npayload"
        rec = (
            b"WARC/1.0\nWARC-Type: response\nWARC-Target-URI: http://lf\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\n\n"
            + body + b"\n\n"
        )
        got = list(W.parse_warc_records(rec))
        assert got == [("http://lf", "2024-01-01T00:00:00Z", b"payload")]

    def test_binary_safe_payload(self):
        payload = bytes(range(256)) * 3
        recs = [("http://bin", "2024-01-01T00:00:00Z", payload)]
        got = list(W.parse_warc_records(build_warc(recs)))
        assert got[0][2] == payload

    def test_truncated_record_raises(self):
        blob = build_warc([("http://x", "2024-01-01T00:00:00Z", b"full body")])
        with pytest.raises(ValueError, match="truncated|unterminated"):
            list(W.parse_warc_records(blob[:-20]))

    def test_garbage_raises(self):
        with pytest.raises(ValueError, match="WARC record start"):
            list(W.parse_warc_records(b"not a warc at all"))


class TestReadWarc:
    def test_read_two_files(self, spark, tmp_path):
        for i in range(2):
            recs = [
                (
                    f"http://f{i}/p{j}",
                    f"2024-01-0{j + 1}T00:00:00Z",
                    f"<html>doc {i}-{j}</html>".encode(),
                )
                for j in range(3)
            ]
            (tmp_path / f"seg{i}.warc").write_bytes(build_warc(recs))
        out = W.read_warc(spark, str(tmp_path)).collect()
        ok = [r for r in out if r.error is None]
        assert len(ok) == 6
        by_url = {r.url: r for r in ok}
        assert bytes(by_url["http://f1/p2"].html) == b"<html>doc 1-2</html>"
        assert by_url["http://f0/p0"].warc_ts.isoformat().startswith("2024-01-01")

    def test_malformed_file_isolated(self, spark, tmp_path):
        (tmp_path / "good.warc").write_bytes(
            build_warc([("http://ok", "2024-01-01T00:00:00Z", b"x")])
        )
        (tmp_path / "bad.warc").write_bytes(b"corrupt bytes")
        out = W.read_warc(spark, str(tmp_path)).collect()
        good = [r for r in out if r.error is None]
        bad = [r for r in out if r.error is not None]
        assert len(good) == 1 and good[0].url == "http://ok"
        assert len(bad) == 1 and "bad.warc" in bad[0].warc_file

    def test_midfile_error_drops_partial_rows(self, spark, tmp_path):
        # regression: records parsed before a framing error used to
        # survive alongside the error row for the same file
        good = build_warc(
            [(f"http://p/{j}", "2024-01-01T00:00:00Z", b"x" * 10) for j in range(3)]
        )
        (tmp_path / "part.warc").write_bytes(good + b"WARC/1.0\r\ngarbage")
        out = W.read_warc(spark, str(tmp_path)).collect()
        assert len(out) == 1 and out[0].error is not None

    def test_feeds_extraction_pipeline(self, spark, tmp_path):
        from cmc_knowledge_graph_text2ttl_spark.operators import extract_text
        from pyspark.sql import functions as F

        recs = [
            ("doc://1", "2024-01-01T00:00:00Z", b"<html><p>alpha beta</p></html>")
        ]
        (tmp_path / "a.warc").write_bytes(build_warc(recs))
        pages = (
            W.read_warc(spark, str(tmp_path))
            .where("error is null")
            .select(
                "url", "warc_ts", "html",
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
            )
        )
        out = extract_text(pages).collect()
        assert len(out) == 1 and "alpha beta" in out[0].text


RECS = [
    (f"http://s/{i}", "2024-02-01T00:00:00Z", f"<html>page {i} αβ</html>".encode())
    for i in range(4)
]


def _payloads(data, gz=False):
    if gz:
        data = W.gunzip_members(data)
    return [p for _, _, p in W.parse_warc_records(data)]


class TestGzip:
    def test_member_per_record_roundtrip(self):
        gz = build_warc(RECS, compress=True)
        assert gz[:2] == b"\x1f\x8b"
        assert _payloads(gz, gz=True) == _payloads(build_warc(RECS))

    def test_one_member_per_record(self):
        # Common Crawl layout: each record its own gzip member
        import zlib

        gz = build_warc(RECS, compress=True)
        count, pos = 0, 0
        while pos < len(gz):
            d = zlib.decompressobj(wbits=31)
            d.decompress(gz[pos:])
            assert d.eof
            pos = len(gz) - len(d.unused_data)
            count += 1
        assert count == len(RECS)

    def test_deterministic_bytes(self):
        assert build_warc(RECS, compress=True) == build_warc(
            RECS, compress=True
        )

    def test_truncated_member_raises(self):
        gz = build_warc(RECS, compress=True)
        with pytest.raises(ValueError, match="truncated gzip member"):
            W.gunzip_members(gz[:-3])

    def test_non_gzip_tail_raises(self):
        gz = build_warc(RECS[:1], compress=True)
        with pytest.raises(ValueError, match="expected gzip member"):
            W.gunzip_members(gz + b"not gzip")

    def test_read_warc_sniffs_magic_not_extension(self, spark, tmp_path):
        # same records: one plain file, one gz file with a PLAIN name
        (tmp_path / "a.warc").write_bytes(build_warc(RECS[:2]))
        (tmp_path / "b.warc").write_bytes(
            build_warc(RECS[2:], compress=True)
        )
        out = W.read_warc(spark, str(tmp_path)).where("error is null")
        assert sorted(r.url for r in out.collect()) == [
            f"http://s/{i}" for i in range(4)
        ]

    def test_corrupt_gz_file_isolated(self, spark, tmp_path):
        (tmp_path / "good.warc.gz").write_bytes(
            build_warc(RECS[:1], compress=True)
        )
        (tmp_path / "bad.warc.gz").write_bytes(b"\x1f\x8b\x08corrupt")
        rows = W.read_warc(spark, str(tmp_path)).collect()
        errs = [r for r in rows if r.error is not None]
        assert len(errs) == 1 and "bad.warc.gz" in errs[0].warc_file
        assert len(rows) == 2  # the good file still parses


class TestChunked:
    def test_chunked_body_reassembles(self):
        assert _payloads(build_warc(RECS, chunked=True)) == _payloads(
            build_warc(RECS)
        )

    def test_gzip_plus_chunked(self):
        gz = build_warc(RECS, compress=True, chunked=True)
        assert _payloads(gz, gz=True) == _payloads(build_warc(RECS))

    def test_chunk_extensions_and_bare_lf(self):
        body = b"hello world"
        chunked = b"6;ext=1\r\nhello \n5\r\nworld\r\n0\r\n\r\n"
        http = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked
        warc = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://c/1\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http
        )
        assert _payloads(warc) == [body]

    def test_truncated_chunk_raises(self):
        http = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"ff\r\nshort"
        )
        warc = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http
        )
        with pytest.raises(ValueError, match="truncated chunk"):
            list(W.parse_warc_records(warc))

    def test_identity_final_coding_not_dechunked(self):
        # Transfer-Encoding: chunked, gzip → chunked is NOT the final
        # coding; the body must pass through untouched
        body = b"raw-bytes-left-alone"
        http = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked, gzip\r\n\r\n"
            + body
        )
        warc = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http
        )
        assert _payloads(warc) == [body]
