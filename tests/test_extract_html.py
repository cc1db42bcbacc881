"""Real-HTML extraction tests: Tika-style XHTML normalization and
trafilatura-style plain text (ops/extract.py).

The reference converts HTML/Office to XHTML via a Tika sidecar
(runner.py:36-115); here the normalizer is pure stdlib and these
fixtures pin its behavior on crawl-shaped input: scripts/styles/comments
dropped, attributes stripped, tags balanced, entities decoded and
re-escaped, first-root truncation.
"""

from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
    extract_one,
    html_to_plain_text,
    html_to_xhtml_text,
)

MESSY = b"""<!DOCTYPE html><HTML lang=en><head>
<script>var x = "<table>evil</table> join scan";</script>
<STYLE>body { color: red }</STYLE><title>T &amp; t</title></head>
<BODY class="x"><!-- nav comment --><DIV id=main><P style="x">Hello <B>world</B> &lt;3</p>
<table border=1><tr><td>a</td><td>b</td></tr></table>
<img src="x.png"><br><span>tail</span></div></body></html>junk"""


class TestXhtmlNormalizer:
    def test_messy_crawl_page(self):
        got = html_to_xhtml_text(MESSY)
        assert got == (
            "<html><head>\n\n<title>T &amp; t</title></head>\n"
            "<body><div><p>Hello world &lt;3</p>\n"
            "<table><tr><td>a</td><td>b</td></tr></table>\n"
            "<br/>tail</div></body></html>"
        )

    def test_script_content_never_leaks(self):
        got = html_to_xhtml_text(MESSY)
        assert "evil" not in got and "join" not in got and "color" not in got

    def test_attributes_stripped_tags_lowercased(self):
        got = html_to_xhtml_text(b'<HTML><BODY CLASS="a" id=b><P Align=center>x</P></BODY></HTML>')
        assert got == "<html><body><p>x</p></body></html>"

    def test_unclosed_tags_balanced_at_eof(self):
        got = html_to_xhtml_text(b"<html><body><p>one<p>two")
        # html.parser reports each <p> as a start tag; both close at EOF
        assert got.endswith("</body></html>")
        assert got.count("<p>") == got.count("</p>")

    def test_stray_close_tags_ignored(self):
        got = html_to_xhtml_text(b"</div></p><html><body>x</body></html>")
        assert got == "<html><body>x</body></html>"

    def test_charrefs_decoded_then_reescaped(self):
        got = html_to_xhtml_text(b"<p>&#104;i &amp; &lt;b&gt; &gt;</p>")
        assert got == "<p>hi &amp; &lt;b&gt; &gt;</p>"

    def test_first_root_truncation_after_normalize(self):
        got = html_to_xhtml_text(
            b"<html><body>a</body></html><html><body>b</body></html>"
        )
        assert got == "<html><body>a</body></html>"

    def test_malformed_utf8_is_error_row(self):
        text, ctype, err = extract_one(b"\xff\xfe<html><oops")
        assert text is None and err and "UnicodeDecodeError" in err


def _make_docx(document_xml: str) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("word/document.xml", document_xml)
    return buf.getvalue()


class TestDocx:
    DOC = (
        '<?xml version="1.0"?><w:document><w:body>'
        "<w:p ><w:r><w:t>Batch record 7</w:t></w:r></w:p>"
        "<w:p ><w:r><w:t xml:space=\"preserve\">Material: </w:t></w:r>"
        "<w:r><w:t>Aspirin &amp; water</w:t></w:r></w:p>"
        "<w:tbl><w:tr><w:tc><w:p ><w:r><w:t>A</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p ><w:r><w:t>B</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
        "<w:p ><w:r><w:t>after table</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )

    def test_docx_paragraphs_and_table(self):
        from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
            extract_one,
            sniff_content_type,
        )
        from cmc_knowledge_graph_text2ttl_spark.operators.office import docx_to_xhtml_text

        blob = _make_docx(self.DOC)
        assert sniff_content_type(blob) == "ooxml"
        got = docx_to_xhtml_text(blob)
        assert got == (
            "<html><body><p>Batch record 7</p>"
            "<p>Material: Aspirin &amp; water</p>"
            "<table><tr><td>A</td><td>B</td></tr></table>"
            "<p>after table</p></body></html>"
        )
        text, ctype, err = extract_one(blob)
        assert ctype == "docx" and err is None and text == got

    def test_non_docx_zip_is_error_row(self):
        import io
        import zipfile

        from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("data.txt", "not a docx")
        text, ctype, err = extract_one(buf.getvalue())
        assert ctype == "ooxml" and text is None and "not an Office document" in err


class TestPlainText:
    def test_messy_crawl_page(self):
        assert html_to_plain_text(MESSY) == "T & t\nHello world <3\na\tb\ntail\njunk"

    def test_block_boundaries_and_cells(self):
        html = "<h1>Title</h1><ul><li>one</li><li>two</li></ul><table><tr><th>H</th><th>K</th></tr><tr><td>1</td><td>2</td></tr></table>"
        assert html_to_plain_text(html) == "Title\none\ntwo\nH\tK\n1\t2"

    def test_whitespace_collapsed(self):
        assert html_to_plain_text("<p>  a   b\t c </p>\n\n<p> d </p>") == "a b c\nd"

    def test_script_and_style_dropped(self):
        assert (
            html_to_plain_text("<script>nope()</script><style>x{}</style><p>keep</p>")
            == "keep"
        )

    def test_plain_string_passthrough(self):
        assert html_to_plain_text("just words") == "just words"

    def test_self_closed_script_does_not_swallow_document(self):
        """Regression: a self-closing <script/> must not enter skip mode —
        html.parser never delivers a matching end tag for it, so content
        after it was silently dropped."""
        for tag in ("script", "style", "noscript", "template"):
            got = html_to_plain_text(f"<p>before</p><{tag}/><p>after</p>")
            assert got == "before\nafter", (tag, got)
        # self-closed block tags still emit boundaries, real scripts still skip
        assert html_to_plain_text("a<br/>b<script>x()</script>c") == "a\nbc"
        assert html_to_plain_text("<table><tr><td/>x</tr></table>") == "x"


class TestCharsetResolution:
    """BOM / strict-UTF8 / meta-charset / cp1252-fallback decode."""

    def test_declared_cp1252(self):
        raw = ('<html><head><meta charset="windows-1252"></head>'
               '<body><p>café — ok</p></body></html>').encode("cp1252")
        assert "café — ok" in html_to_xhtml_text(raw)

    def test_http_equiv_shift_jis(self):
        raw = ('<html><head><meta http-equiv="Content-Type" '
               'content="text/html; charset=Shift_JIS"></head>'
               "<body><p>日本語</p></body></html>").encode("shift_jis")
        assert "日本語" in html_to_xhtml_text(raw)

    def test_undeclared_non_utf8_falls_back_to_cp1252(self):
        raw = "<html><body><p>naïve</p></body></html>".encode("cp1252")
        assert "naïve" in html_to_xhtml_text(raw)

    def test_utf8_bom_and_utf16_bom(self):
        assert "<p>x</p>" in html_to_xhtml_text(
            b"\xef\xbb\xbf<html><body><p>x</p></body></html>")
        u16 = "<html><body><p>utf16 page</p></body></html>".encode("utf-16")
        assert "utf16 page" in html_to_xhtml_text(u16)

    def test_broken_bom_payload_stays_error_row(self):
        # the synthetic corpus' malformed row: UTF-16 BOM, odd payload
        text, _, err = extract_one(b"\xff\xfe<html><oops")
        assert text is None and "UnicodeDecodeError" in err

    def test_bogus_or_lying_charset_labels(self):
        bogus = ('<html><head><meta charset="no-such-enc"></head>'
                 "<body><p>é</p></body></html>").encode("cp1252")
        assert "é" in html_to_xhtml_text(bogus)
        # a utf-16 label on non-BOM bytes is ignored (it cannot be true
        # for bytes that already look like ASCII-compatible markup)
        lying = ('<html><head><meta charset="utf-16"></head>'
                 "<body><p>é</p></body></html>").encode("cp1252")
        assert "é" in html_to_xhtml_text(lying)

    def test_mislabelled_utf8ish_bytes_replace_not_crash(self):
        raw = ('<html><head><meta charset="utf-8"></head>'
               "<body><p>x</p></body></html>").encode("cp1252")[:-1] + b"\xff>"
        out = html_to_xhtml_text(raw)
        assert "<p>x</p>" in out  # U+FFFD somewhere is fine
