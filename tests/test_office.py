"""docx / xlsx / pptx extraction (operators/office.py) + OOXML dispatch."""

import ast
import io
import zipfile
from pathlib import Path

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import office as O
from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
    extract_one,
    ooxml_to_xhtml_text,
    sniff_content_type,
)
import fixture_writers as FW


def _zip(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, payload in members:
            z.writestr(name, payload)
    return buf.getvalue()


class TestXlsx:
    def test_fixture_roundtrip_with_gap_and_number(self):
        blob = FW.make_xlsx([("S", [["a", "b"], [7, None, "c"]])])
        assert sniff_content_type(blob) == "ooxml"
        text, ctype, err = extract_one(blob)
        assert ctype == "xlsx" and err is None
        assert text == (
            "<html><body><h1>S</h1><table>"
            "<tr><td>a</td><td>b</td></tr>"
            "<tr><td>7</td><td></td><td>c</td></tr>"
            "</table></body></html>"
        )

    def test_sheet_order_follows_workbook_not_members(self):
        # workbook lists rId2 (sheet2.xml) FIRST — render must follow it
        members = [
            ("xl/workbook.xml",
             '<workbook xmlns:r="r"><sheets>'
             '<sheet name="Second" sheetId="1" r:id="rId2"/>'
             '<sheet name="First" sheetId="2" r:id="rId1"/>'
             "</sheets></workbook>"),
            ("xl/_rels/workbook.xml.rels",
             '<Relationships>'
             '<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>'
             '<Relationship Id="rId2" Target="worksheets/sheet2.xml"/>'
             "</Relationships>"),
            ("xl/worksheets/sheet1.xml",
             '<worksheet><sheetData><row><c><v>1</v></c></row>'
             "</sheetData></worksheet>"),
            ("xl/worksheets/sheet2.xml",
             '<worksheet><sheetData><row><c><v>2</v></c></row>'
             "</sheetData></worksheet>"),
        ]
        got = O.xlsx_to_xhtml_text(_zip(members))
        assert got == (
            "<html><body>"
            "<h1>Second</h1><table><tr><td>2</td></tr></table>"
            "<h1>First</h1><table><tr><td>1</td></tr></table>"
            "</body></html>"
        )

    def test_rich_text_shared_string_and_inline_str(self):
        members = [
            ("xl/workbook.xml",
             '<workbook xmlns:r="r"><sheets>'
             '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'),
            ("xl/_rels/workbook.xml.rels",
             '<Relationships><Relationship Id="rId1" '
             'Target="worksheets/sheet1.xml"/></Relationships>'),
            ("xl/sharedStrings.xml",
             '<sst><si><r><t>ri</t></r><r><t xml:space="preserve">ch '
             "</t></r><r><t>&amp;co</t></r></si></sst>"),
            ("xl/worksheets/sheet1.xml",
             '<worksheet><sheetData><row>'
             '<c r="A1" t="s"><v>0</v></c>'
             '<c r="B1" t="inlineStr"><is><t>in&lt;line</t></is></c>'
             "</row></sheetData></worksheet>"),
        ]
        got = O.xlsx_to_xhtml_text(_zip(members))
        assert "<td>rich &amp;co</td>" in got
        assert "<td>in&lt;line</td>" in got

    def test_self_closing_run_is_empty(self):
        """``<t xml:space="preserve"/>`` is an empty run, not an open tag
        whose text runs on into the next run's markup."""
        members = [
            ("xl/workbook.xml",
             '<workbook xmlns:r="r"><sheets>'
             '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'),
            ("xl/_rels/workbook.xml.rels",
             '<Relationships><Relationship Id="rId1" '
             'Target="worksheets/sheet1.xml"/></Relationships>'),
            ("xl/sharedStrings.xml",
             '<sst><si><r><t xml:space="preserve"/></r><r><t>A</t></r></si></sst>'),
            ("xl/worksheets/sheet1.xml",
             '<worksheet><sheetData><row><c r="A1" t="s"><v>0</v></c></row>'
             "</sheetData></worksheet>"),
        ]
        got = O.xlsx_to_xhtml_text(_zip(members))
        assert "<td>A</td>" in got

    def test_shared_index_out_of_range_raises(self):
        members = [
            ("xl/workbook.xml",
             '<workbook xmlns:r="r"><sheets>'
             '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'),
            ("xl/_rels/workbook.xml.rels",
             '<Relationships><Relationship Id="rId1" '
             'Target="worksheets/sheet1.xml"/></Relationships>'),
            ("xl/worksheets/sheet1.xml",
             '<worksheet><sheetData><row><c t="s"><v>5</v></c></row>'
             "</sheetData></worksheet>"),
        ]
        with pytest.raises(ValueError, match="out of range"):
            O.xlsx_to_xhtml_text(_zip(members))

    def test_wide_column_reference(self):
        # AA1 → column 26: 26 empty tds precede it
        members = [
            ("xl/workbook.xml",
             '<workbook xmlns:r="r"><sheets>'
             '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'),
            ("xl/_rels/workbook.xml.rels",
             '<Relationships><Relationship Id="rId1" '
             'Target="worksheets/sheet1.xml"/></Relationships>'),
            ("xl/worksheets/sheet1.xml",
             '<worksheet><sheetData><row><c r="AA1"><v>w</v></c></row>'
             "</sheetData></worksheet>"),
        ]
        got = O.xlsx_to_xhtml_text(_zip(members))
        assert got.count("<td></td>") == 26 and "<td>w</td>" in got


def _docx(body):
    xml = f"<w:document><w:body>{body}</w:body></w:document>"
    return _zip([("word/document.xml", xml)])


def _docx_text(body):
    return O.docx_to_xhtml_text(_docx(body))


class TestDocxWordMarkup:
    """The paragraph/table markup Word writes: properties, attributes,
    tabs, breaks and empty paragraphs."""

    def test_tab_is_text_and_tab_stop_is_not(self):
        got = _docx_text(
            '<w:p><w:pPr><w:tabs><w:tab w:val="left" w:pos="720"/></w:tabs></w:pPr>'
            "<w:r><w:t>Name:</w:t></w:r><w:r><w:tab/></w:r>"
            "<w:r><w:t>Steel</w:t></w:r></w:p>"
        )
        assert got == "<html><body><p>Name:\tSteel</p></body></html>"

    def test_break_is_lf(self):
        got = _docx_text("<w:p><w:r><w:t>line1</w:t><w:br/><w:t>line2</w:t></w:r></w:p>")
        assert got == "<html><body><p>line1\nline2</p></body></html>"

    def test_table_and_cells_with_attributes_and_properties(self):
        got = _docx_text(
            '<w:tbl w:rsidR="00A1"><w:tblPr><w:tblW w:w="0" w:type="auto"/></w:tblPr>'
            '<w:tblGrid><w:gridCol w:w="2000"/></w:tblGrid>'
            '<w:tr w:rsidR="00A1"><w:trPr><w:jc w:val="center"/></w:trPr>'
            '<w:tc w:x="1"><w:tcPr><w:tcW w:w="2000"/></w:tcPr>'
            "<w:p><w:r><w:t>A</w:t></w:r></w:p></w:tc>"
            "<w:tc><w:tcPr/><w:p><w:pPr><w:jc w:val=\"left\"/></w:pPr>"
            "<w:r><w:rPr><w:b/></w:rPr><w:t>B</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
        )
        assert got == "<html><body><table><tr><td>A</td><td>B</td></tr></table></body></html>"

    def test_empty_text_element_keeps_its_neighbour(self):
        got = _docx_text(
            '<w:p><w:r><w:t xml:space="preserve"/></w:r><w:r><w:t/></w:r>'
            "<w:r><w:t>A</w:t></w:r></w:p>"
        )
        assert got == "<html><body><p>A</p></body></html>"

    def test_empty_paragraph_before_a_styled_paragraph(self):
        got = _docx_text(
            '<w:p/><w:p w:rsidR="00A1"><w:pPr><w:spacing w:after="0"/></w:pPr>'
            "<w:r><w:t>kept</w:t></w:r></w:p>"
        )
        assert got == "<html><body><p>kept</p></body></html>"


class TestPptx:
    def test_fixture_roundtrip_paragraphs_and_table(self):
        blob = FW.make_pptx([["p one", [["a", "b"]]], ["p two"]])
        text, ctype, err = extract_one(blob)
        assert ctype == "pptx" and err is None
        assert text == (
            '<html><body><div class="slide"><p>p one</p>'
            "<table><tr><td>a</td><td>b</td></tr></table></div>"
            '<div class="slide"><p>p two</p></div></body></html>'
        )

    def test_slide_order_is_numeric_not_lexical(self):
        # slide10 must come AFTER slide2
        def slide(text):
            return ('<p:sld xmlns:a="a" xmlns:p="p"><p:cSld>'
                    f"<a:p><a:r><a:t>{text}</a:t></a:r></a:p>"
                    "</p:cSld></p:sld>")

        members = [
            ("ppt/presentation.xml", "<p:presentation/>"),
            ("ppt/slides/slide10.xml", slide("ten")),
            ("ppt/slides/slide2.xml", slide("two")),
        ]
        got = O.pptx_to_xhtml_text(_zip(members))
        assert got.index(">two<") < got.index(">ten<")

    def test_empty_paragraphs_dropped(self):
        members = [
            ("ppt/presentation.xml", "<p:presentation/>"),
            ("ppt/slides/slide1.xml",
             "<p:sld><a:p></a:p><a:p><a:r><a:t>kept</a:t></a:r></a:p></p:sld>"),
        ]
        got = O.pptx_to_xhtml_text(_zip(members))
        assert got == ('<html><body><div class="slide"><p>kept</p>'
                       "</div></body></html>")

    def test_line_break_with_run_properties_is_lf(self):
        members = [
            ("ppt/presentation.xml", "<p:presentation/>"),
            ("ppt/slides/slide1.xml",
             "<p:sld><a:p><a:r><a:t>line1</a:t></a:r>"
             '<a:br><a:rPr lang="en-US"/></a:br>'
             "<a:r><a:t>line2</a:t></a:r></a:p></p:sld>"),
        ]
        got = O.pptx_to_xhtml_text(_zip(members))
        assert got == ('<html><body><div class="slide"><p>line1\nline2</p>'
                       "</div></body></html>")


class TestDispatch:
    def test_refined_types(self):
        assert ooxml_to_xhtml_text(FW.make_docx(["x"]))[1] == "docx"
        assert ooxml_to_xhtml_text(FW.make_xlsx([("S", [["x"]])]))[1] == "xlsx"
        assert ooxml_to_xhtml_text(FW.make_pptx([["x"]]))[1] == "pptx"

    def test_unknown_zip_is_error_row_with_ooxml_type(self):
        blob = _zip([("whatever.txt", "nope")])
        text, ctype, err = extract_one(blob)
        assert ctype == "ooxml" and text is None and "not an Office document" in err


# markup only operators/xhtml.py writes; "</h" catches headings and </html>
_MARKUP = ("<p>", "<td>", "<tr>", "<table>", "</h", 'class="slide"', "<html>", "<body>")


def test_readers_write_markup_only_through_the_xhtml_module():
    pkg = Path(O.__file__).resolve().parent
    for name in ("office", "odf", "legacy_office", "doc_binary", "rtf"):
        tree = ast.parse((pkg / f"{name}.py").read_text(encoding="utf-8"))
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and ast.get_docstring(node) is not None
        }
        written = [
            (name, node.lineno, node.value)
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
            and id(node) not in docstrings
            and any(tag in node.value for tag in _MARKUP)
        ]
        assert written == []
