"""RTF (operators/rtf.py) and OpenDocument (operators/odf.py)
extraction + dispatch through extract_one."""

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import odf as ODF
from cmc_knowledge_graph_text2ttl_spark.operators import rtf as RTF
from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
    extract_one,
    sniff_content_type,
)
import fixture_writers as FW


class TestRtf:
    def test_sniff_and_dispatch(self):
        blob = FW.make_rtf(["hello"])
        assert sniff_content_type(blob) == "rtf"
        text, ctype, err = extract_one(blob)
        assert (text, ctype, err) == (
            "<html><body><p>hello</p></body></html>",
            "rtf",
            None,
        )

    def test_paragraphs_and_table(self):
        blob = FW.make_rtf(["one", [["a", "b"], ["c", "d"]], "two"])
        assert RTF.rtf_to_xhtml_text(blob) == (
            "<html><body><p>one</p>"
            "<table><tr><td>a</td><td>b</td></tr>"
            "<tr><td>c</td><td>d</td></tr></table>"
            "<p>two</p></body></html>"
        )

    def test_escapes_hex_unicode_and_symbols(self):
        blob = FW.make_rtf(["café — {x} \\ 中文 \U0001F600"])
        assert RTF.rtf_to_xhtml_text(blob) == (
            "<html><body><p>café — {x} \\ 中文 \U0001F600</p></body></html>"
        )

    def test_tab_and_line_inside_paragraph(self):
        blob = FW.make_rtf(["a\tb\nc"])
        assert "<p>a\tb\nc</p>" in RTF.rtf_to_xhtml_text(blob)

    def test_destinations_and_bin_skipped(self):
        raw = (
            rb"{\rtf1\ansi{\fonttbl{\f0 F;}}"
            rb"{\*\generator junk {\nested \par}}"
            rb"{\pict\bin5 " + bytes([0, 1, 123, 92, 125]) + rb"}"
            rb"A\'e9B\par}"
        )
        assert RTF.rtf_to_xhtml_text(raw) == (
            "<html><body><p>AéB</p></body></html>"
        )

    def test_uc_skip_count_honoured(self):
        # \uc2 → two fallback chars consumed after each \uN
        raw = b"{\\rtf1\\ansi\\uc2\\u26085 ??end\\par}"  # 26085 = U+65E5 日
        assert RTF.rtf_to_xhtml_text(raw) == (
            "<html><body><p>日end</p></body></html>"
        )

    def test_uc_is_group_scoped(self):
        # inner group sets \uc0 (no fallback); closing it restores \uc1
        raw = b"{\\rtf1\\ansi\\uc1{\\uc0\\u26085 }\\u26376 ?rest\\par}"  # 日 月
        assert RTF.rtf_to_xhtml_text(raw) == (
            "<html><body><p>日月rest</p></body></html>"
        )

    def test_surrogate_pair_recombines(self):
        blob = FW.make_rtf(["x\U0001F600y"])
        assert "x\U0001F600y" in RTF.rtf_to_xhtml_text(blob)

    def test_lone_surrogate_replaced(self):
        # -10179 + 65536 = 0xD83D, a high surrogate with no low half
        raw = rb"{\rtf1\ansi\uc0\u-10179 Xtail\par}"
        out = RTF.rtf_to_xhtml_text(raw)
        assert "�" in out and "tail" in out

    def test_xml_special_chars_escaped_in_render(self):
        blob = FW.make_rtf(["a<b&c>d"])
        assert RTF.rtf_to_xhtml_text(blob) == (
            "<html><body><p>a&lt;b&amp;c&gt;d</p></body></html>"
        )

    def test_not_rtf_raises(self):
        with pytest.raises(ValueError):
            RTF.rtf_to_xhtml_text(b"plain text")

    def test_garbage_is_error_row(self):
        text, ctype, err = extract_one(b"{\\rtf1\\ansi unterminated")
        # tolerant: an unterminated group still yields its text
        assert err is None and "unterminated" in text


class TestOdf:
    def test_odt_roundtrip(self):
        blob = FW.make_odt(
            [(1, "Title"), "para one", [["a", "b"], ["c", "d"]], "tail"]
        )
        text, kind = ODF.odf_to_xhtml_text(blob)
        assert kind == "odt"
        assert text == (
            "<html><body><h1>Title</h1><p>para one</p>"
            "<table><tr><td>a</td><td>b</td></tr>"
            "<tr><td>c</td><td>d</td></tr></table>"
            "<p>tail</p></body></html>"
        )

    def test_dispatch_via_extract_one(self):
        blob = FW.make_odt(["hello"])
        assert sniff_content_type(blob) == "ooxml"  # PK magic
        text, ctype, err = extract_one(blob)
        assert (ctype, err) == ("odt", None)
        assert text == "<html><body><p>hello</p></body></html>"

    def test_whitespace_elements_expand(self):
        blob = FW.make_odt(["a  b\tc\nd"])
        text, _ = ODF.odf_to_xhtml_text(blob)
        assert "<p>a  b\tc\nd</p>" in text

    def test_heading_levels_clamped(self):
        raw = (
            '<office:document-content><office:body><office:text>'
            '<text:h text:outline-level="9">Deep</text:h>'
            "</office:text></office:body></office:document-content>"
        )
        blob = FW._write_odf_zip(
            "application/vnd.oasis.opendocument.text", raw
        )
        text, _ = ODF.odf_to_xhtml_text(blob)
        assert "<h6>Deep</h6>" in text

    def test_repeated_columns_expand(self):
        raw = (
            "<office:body><office:text>"
            '<table:table><table:table-row>'
            '<table:table-cell table:number-columns-repeated="3"/>'
            "<table:table-cell><text:p>x</text:p></table:table-cell>"
            "</table:table-row></table:table>"
            "</office:text></office:body>"
        )
        blob = FW._write_odf_zip(
            "application/vnd.oasis.opendocument.text", raw
        )
        text, _ = ODF.odf_to_xhtml_text(blob)
        assert "<tr><td></td><td></td><td></td><td>x</td></tr>" in text

    def test_odp_pages_render_as_slides(self):
        blob = FW.make_odp([["s1", [["x"]]], ["s2"]])
        text, kind = ODF.odf_to_xhtml_text(blob)
        assert kind == "odp"
        assert text == (
            '<html><body><div class="slide"><p>s1</p>'
            "<table><tr><td>x</td></tr></table></div>"
            '<div class="slide"><p>s2</p></div></body></html>'
        )

    def test_spreadsheet_mimetype_refines_to_ods(self):
        raw = (
            "<office:body><office:spreadsheet>"
            "<table:table><table:table-row>"
            "<table:table-cell><text:p>v</text:p></table:table-cell>"
            "</table:table-row></table:table>"
            "</office:spreadsheet></office:body>"
        )
        blob = FW._write_odf_zip(
            "application/vnd.oasis.opendocument.spreadsheet", raw
        )
        text, kind = ODF.odf_to_xhtml_text(blob)
        assert kind == "ods"
        assert "<table><tr><td>v</td></tr></table>" in text

    def test_annotations_and_notes_dropped(self):
        raw = (
            "<office:body><office:text>"
            "<text:p>keep<office:annotation><text:p>gone</text:p>"
            "</office:annotation> this<text:note><text:note-body>"
            "<text:p>fn</text:p></text:note-body></text:note></text:p>"
            "</office:text></office:body>"
        )
        blob = FW._write_odf_zip(
            "application/vnd.oasis.opendocument.text", raw
        )
        text, _ = ODF.odf_to_xhtml_text(blob)
        assert text == "<html><body><p>keep this</p></body></html>"

    def test_cell_paragraphs_join_with_lf(self):
        raw = (
            "<office:body><office:text>"
            "<table:table><table:table-row><table:table-cell>"
            "<text:p>l1</text:p><text:p>l2</text:p>"
            "</table:table-cell></table:table-row></table:table>"
            "</office:text></office:body>"
        )
        blob = FW._write_odf_zip(
            "application/vnd.oasis.opendocument.text", raw
        )
        text, _ = ODF.odf_to_xhtml_text(blob)
        assert "<td>l1\nl2</td>" in text

    def test_no_content_xml_is_error(self):
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("other.xml", "<x/>")
        text, ctype, err = extract_one(buf.getvalue())
        assert text is None and err is not None
