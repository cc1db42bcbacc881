"""BIFF8 .xls and binary .ppt extraction (operators/legacy_office.py)
+ OLE2 dispatch."""

import struct

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import legacy_office as L
from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
    extract_one,
    sniff_content_type,
)
import fixture_writers as FW


class TestXls:
    def test_cell_types_and_gaps(self):
        blob = FW.make_xls(
            [("S1", [["a", "b", 7], [3.5, None, "c"], [True, -12]])]
        )
        assert L.xls_to_xhtml_text(blob) == (
            "<html><body><h1>S1</h1><table>"
            "<tr><td>a</td><td>b</td><td>7</td></tr>"
            "<tr><td>3.5</td><td></td><td>c</td></tr>"
            "<tr><td>TRUE</td><td>-12</td></tr>"
            "</table></body></html>"
        )

    def test_multiple_sheets_in_boundsheet_order(self):
        blob = FW.make_xls([("Z-last", [["z"]]), ("A-first", [["a"]])])
        got = L.xls_to_xhtml_text(blob)
        assert got.index("Z-last") < got.index("A-first")

    def test_unicode_sheet_name_and_strings(self):
        blob = FW.make_xls([("中文", [["héllo", "日本語"]])])
        assert L.xls_to_xhtml_text(blob) == (
            "<html><body><h1>中文</h1><table>"
            "<tr><td>héllo</td><td>日本語</td></tr></table></body></html>"
        )

    def test_sst_continue_split(self):
        blob = FW.make_xls(
            [("S", [["alpha", "beta", "gamma", "delta"]])],
            sst_continue_split=True,
        )
        assert (
            "<tr><td>alpha</td><td>beta</td><td>gamma</td><td>delta</td></tr>"
            in L.xls_to_xhtml_text(blob)
        )

    def test_continue_split_mid_string_with_flag_flip(self):
        # hand-build an SST whose string splits across a CONTINUE with
        # the continuation switching to UTF-16 (fHighByte flips mid-way)
        s1 = "abcXY"  # 3 latin chars in SST, 2 UTF-16 chars in CONTINUE
        head = struct.pack("<H", len(s1)) + b"\x00" + b"abc"
        cont = b"\x01" + "XY".encode("utf-16-le")
        sst_body = struct.pack("<ii", 1, 1) + head
        wb = (
            FW._rec(FW._BOF, struct.pack("<HHHHII", 0x0600, 5, 0, 0, 0, 0))
            + FW._rec(
                L._BOUNDSHEET,
                struct.pack("<IH", 0, 0) + FW._xl_unicode("S", short=True),
            )
            + FW._rec(L._SST, sst_body)
            + FW._rec(L._CONTINUE, cont)
            + FW._rec(L._EOF, b"")
        )
        sheet = (
            FW._rec(FW._BOF, struct.pack("<HHHHII", 0x0600, 0x10, 0, 0, 0, 0))
            + FW._rec(L._LABELSST, struct.pack("<HHHI", 0, 0, 0, 0))
            + FW._rec(L._EOF, b"")
        )
        full = bytearray(wb + sheet)
        struct.pack_into("<I", full, 4 + 16 + 4, len(wb))  # lbPlyPos
        blob = FW.make_cfb([("Workbook", bytes(full))])
        assert "<td>abcXY</td>" in L.xls_to_xhtml_text(blob)

    def test_rk_values(self):
        # [MS-XLS] 2.5.276: bit 0 = fX100, bit 1 = fInt (matches xlrd)
        assert L._rk_value((7 << 2) | 0x02) == 7.0
        assert L._rk_value(((-7) & ((1 << 30) - 1)) << 2 | 0x02) == -7.0
        # 100x-scaled integer: 1234 cents
        assert L._rk_value((1234 << 2) | 0x03) == 12.34
        # double payload: 2.5 has a clean top-30-bit mantissa
        top = struct.unpack("<Q", struct.pack("<d", 2.5))[0] >> 32
        assert L._rk_value(top & 0xFFFFFFFC) == 2.5
        # double / 100 (fX100 set, fInt clear): 1.0 high bits → 0.01
        one = struct.unpack("<Q", struct.pack("<d", 1.0))[0] >> 32
        assert L._rk_value((one & 0xFFFFFFFC) | 0x01) == 0.01

    def test_rk_real_excel_vectors(self):
        # Vectors as real Excel writes them (cross-checked against
        # xlrd's rk decoder): integer 100 is 0x192 = (100<<2)|fInt.
        assert L._rk_value(0x00000192) == 100.0
        # 1.23 stored as 123 cents: (123<<2)|fInt|fX100 = 0x1EF
        assert L._rk_value(0x000001EF) == 1.23
        # 1.0 stored as a truncated double: word 0x3FF00000
        assert L._rk_value(0x3FF00000) == 1.0
        # make_xls round-trip: integers must come back intact, not as
        # 8.5e-314 denormal garbage (the old swapped-bit failure mode)
        blob = FW.make_xls([("S", [[100, -42]])])
        text = L.xls_to_xhtml_text(blob)
        assert "<td>100</td>" in text and "<td>-42</td>" in text

    def test_dispatch_via_extract_one(self):
        blob = FW.make_xls([("S", [["v"]])])
        assert sniff_content_type(blob) == "ole2"
        text, ctype, err = extract_one(blob)
        assert (ctype, err) == ("xls", None)
        assert "<td>v</td>" in text

    def test_bad_sst_index_raises(self):
        blob = bytearray(FW.make_xls([("S", [["only"]])]))
        with pytest.raises(ValueError):
            # corrupt every LABELSST isst in place
            raw = bytes(blob)
            i = raw.find(struct.pack("<HH", L._LABELSST, 10))
            assert i > 0
            patched = bytearray(raw)
            struct.pack_into("<I", patched, i + 4 + 6, 999)
            L.xls_to_xhtml_text(bytes(patched))


class TestPpt:
    def test_text_atoms_flatten_to_paragraphs(self):
        blob = FW.make_ppt(["Title\rline two", "café — 中文"])
        assert L.ppt_to_xhtml_text(blob) == (
            "<html><body><p>Title</p><p>line two</p>"
            "<p>café — 中文</p></body></html>"
        )

    def test_nested_containers_recurse(self):
        inner = struct.pack("<HHI", 0, L._TEXTBYTES, 4) + b"deep"
        mid = struct.pack("<HHI", 0x000F, 0x03EE, len(inner)) + inner
        outer = struct.pack("<HHI", 0x000F, 0x03E8, len(mid)) + mid
        blob = FW.make_cfb([("PowerPoint Document", outer)])
        assert L.ppt_to_xhtml_text(blob) == (
            "<html><body><p>deep</p></body></html>"
        )

    def test_vertical_tab_becomes_newline(self):
        blob = FW.make_ppt(["a\x0bb"])
        assert "<p>a\nb</p>" in L.ppt_to_xhtml_text(blob)

    def test_dispatch_via_extract_one(self):
        blob = FW.make_ppt(["slide text"])
        text, ctype, err = extract_one(blob)
        assert (ctype, err) == ("ppt", None)
        assert "<p>slide text</p>" in text

    def test_truncated_record_raises(self):
        bad = struct.pack("<HHI", 0, L._TEXTBYTES, 100) + b"short"
        blob = FW.make_cfb([("PowerPoint Document", bad)])
        with pytest.raises(ValueError, match="truncated"):
            L.ppt_to_xhtml_text(blob)


class TestSstBoundaryEdge:
    def test_header_ending_exactly_at_record_boundary(self):
        # string header (cch+grbit) fills the SST record to the byte;
        # ALL characters live in the CONTINUE, which therefore starts
        # with its own flag byte even though zero chars preceded it
        head = struct.pack("<H", 3) + b"\x00"  # cch=3, compressed
        cont = b"\x01" + "abc".encode("utf-16-le")  # flag flips to wide
        sst_body = struct.pack("<ii", 1, 1) + head
        wb = (
            FW._rec(FW._BOF, struct.pack("<HHHHII", 0x0600, 5, 0, 0, 0, 0))
            + FW._rec(
                L._BOUNDSHEET,
                struct.pack("<IH", 0, 0) + FW._xl_unicode("S", short=True),
            )
            + FW._rec(L._SST, sst_body)
            + FW._rec(L._CONTINUE, cont)
            + FW._rec(L._EOF, b"")
        )
        sheet = (
            FW._rec(FW._BOF, struct.pack("<HHHHII", 0x0600, 0x10, 0, 0, 0, 0))
            + FW._rec(L._LABELSST, struct.pack("<HHHI", 0, 0, 0, 0))
            + FW._rec(L._EOF, b"")
        )
        full = bytearray(wb + sheet)
        struct.pack_into("<I", full, 4 + 16 + 4, len(wb))
        blob = FW.make_cfb([("Workbook", bytes(full))])
        assert "<td>abc</td>" in L.xls_to_xhtml_text(blob)
