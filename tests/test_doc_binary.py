"""CFB container (operators/cfb.py) + Word 97-2003 .doc extraction
(operators/doc_binary.py) + dispatch through extract_one."""

import struct

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators.cfb import CfbReader
from cmc_knowledge_graph_text2ttl_spark.operators.doc_binary import (
    doc_to_xhtml_text,
    extract_doc_text,
)
from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
    extract_one,
    sniff_content_type,
)
from fixture_writers import make_cfb, make_doc


class TestCfb:
    def test_mini_and_fat_streams_roundtrip(self):
        small = bytes(range(256)) + b"tail"
        big = bytes((i * 7) % 256 for i in range(9000))
        r = CfbReader(make_cfb([("Small", small), ("Big", big), ("E", b"")]))
        assert r.streams["Small"] == small
        assert r.streams["Big"] == big
        assert r.streams["E"] == b""

    def test_sector_boundary_sizes(self):
        for n in (64, 128, 512, 4095, 4096, 8192):
            body = bytes(i % 256 for i in range(n))
            assert CfbReader(make_cfb([("S", body)])).streams["S"] == body, n

    def test_many_streams_multi_sector_directory(self):
        streams = [
            (f"N{i}", bytes([i % 256]) * ((i * 37) % 500 + 1))
            for i in range(60)
        ]
        r = CfbReader(make_cfb(streams))
        for name, body in streams:
            assert r.streams[name] == body

    def test_rejects_non_ole2(self):
        with pytest.raises(ValueError, match="OLE2"):
            CfbReader(b"MZ" + b"\x00" * 600)

    def test_truncated_container_is_value_error(self):
        blob = make_cfb([("S", b"x" * 300)])
        with pytest.raises(ValueError):
            CfbReader(blob[:600])


class TestDocBinary:
    def test_roundtrip_both_piece_encodings(self):
        # ASCII first half → compressed cp1252 piece; CJK second half
        # → UTF-16 piece; both decoded back losslessly
        paras = ["Hello world", "second para", "café — 中文 text"]
        assert doc_to_xhtml_text(make_doc(paras)) == (
            "<html><body><p>Hello world</p><p>second para</p>"
            "<p>café — 中文 text</p></body></html>"
        )

    def test_dispatch_via_extract_one(self):
        blob = make_doc(["from word"])
        assert sniff_content_type(blob) == "ole2"
        text, ctype, err = extract_one(blob)
        assert (text, ctype, err) == (
            "<html><body><p>from word</p></body></html>",
            "doc",
            None,
        )

    def test_large_document_uses_fat_path(self):
        body = "x" * 5000
        out = doc_to_xhtml_text(make_doc([body, "tail"]))
        assert body in out and "<p>tail</p>" in out

    def test_control_characters(self):
        out = doc_to_xhtml_text(
            make_doc(
                [
                    "a\x0bb",  # vertical tab → LF in paragraph
                    "f:\x13 INSTR \x14result\x15 done",  # field → result
                    "c1\x07c2",  # cell marks → separate paragraphs
                ]
            )
        )
        assert out == (
            "<html><body><p>a\nb</p><p>f:result done</p>"
            "<p>c1</p><p>c2</p></body></html>"
        )

    def test_ccptext_truncates_trailing_runs(self):
        # bytes beyond ccpText (headers/footnotes) must not leak
        blob = bytearray(make_doc(["visible", "ghost"]))
        # shrink ccpText to just the first paragraph + its mark —
        # rewrite inside the WordDocument stream via the reader
        r = CfbReader(bytes(blob))
        word = bytearray(r.streams["WordDocument"])
        struct.pack_into("<i", word, 76, len("visible") + 1)
        # find the FIB inside the container and patch in place (the
        # stream is stored contiguously in the ministream/FAT)
        idx = bytes(blob).find(bytes(word[:32]))
        assert idx > 0
        blob[idx + 76 : idx + 80] = struct.pack("<i", len("visible") + 1)
        out = doc_to_xhtml_text(bytes(blob))
        assert out == "<html><body><p>visible</p></body></html>"

    def test_encrypted_doc_is_error(self):
        blob = bytearray(make_doc(["secret"]))
        r = CfbReader(bytes(blob))
        word = r.streams["WordDocument"]
        idx = bytes(blob).find(word[:32])
        flags = struct.unpack_from("<H", blob, idx + 10)[0] | 0x0100
        struct.pack_into("<H", blob, idx + 10, flags)
        with pytest.raises(ValueError, match="encrypted"):
            extract_doc_text(bytes(blob))
        text, ctype, err = extract_one(bytes(blob))
        assert text is None and "encrypted" in err

    def test_unknown_ole2_is_error_row(self):
        blob = make_cfb([("VisioDocument", b"\x00" * 100)])
        text, ctype, err = extract_one(blob)
        assert text is None and ctype == "ole2"
        assert "WordDocument" in err and "VisioDocument" in err

    def test_empty_document(self):
        assert doc_to_xhtml_text(make_doc([])) == "<html><body></body></html>"
