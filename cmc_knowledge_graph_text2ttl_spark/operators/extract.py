"""Stage 1 — text extraction: ``html:binary -> text:string``.

The reference extracts per document over HTTP to a Tika JVM (runner.py:36-65)
or via PyMuPDF table recognition for PDFs (runner.py:131-141). At scale both
become in-process pure functions executed inside one Arrow-batched
``mapInPandas`` stage, dispatched on content sniffing. The per-row invariant
is BYTE-IDENTICAL text per url: extraction is a deterministic pure function
of the input bytes, so any partitioning / parallelism / rerun yields the
same bytes (tested in tests/test_pipeline_spark.py).

Semantics preserved from the reference:

* HTML is normalized to Tika-style XHTML text (runner.py:36-115's role):
  script/style/comment content dropped, attributes dropped, structural
  tags kept lowercase and balanced, inline/unknown tags unwrapped,
  entities decoded then minimally re-escaped — pure stdlib
  ``html.parser``, fully deterministic;
* only the first ``</html>`` root is kept — Tika can emit trailing roots
  and the runner truncates after the first close tag (runner.py:126-127);
* PDF extraction is a separate dispatch branch. PyMuPDF is not available
  in this environment, so the geometric table recognizer
  (text_to_turtle_pdf_to_text.py:319-479, 7-stage pipeline) is stubbed
  behind an import-try; the Spark-side plumbing (dispatch, schema, error
  rows) is real and tested with a deterministic fake.
"""

from __future__ import annotations

import re

from html import escape as _xml_escape
from html.parser import HTMLParser
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .columns import map_rows

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("extract_error", StringType(), True),
    ]
)

_HTML_CLOSE = "</html>"

# Structural tags Tika's XHTML output preserves — enough for the table /
# section / paragraph workflows to keep matching; everything else is
# unwrapped (content kept, tag dropped).
_KEEP_TAGS = frozenset(
    "html head title body h1 h2 h3 h4 h5 h6 p div table thead tbody tfoot "
    "tr td th ul ol li dl dt dd blockquote pre section article header "
    "footer nav aside caption a".split()
)
# Void elements that survive as self-closed markers.
_KEEP_VOID = frozenset({"br", "hr"})
# Elements whose entire CONTENT is dropped (trafilatura/Tika both do).
_DROP_CONTENT = frozenset({"script", "style", "noscript", "template"})


class _XhtmlNormalizer(HTMLParser):
    """Tika-style HTML → normalized XHTML text (pure stdlib, deterministic).

    * script/style/noscript/template content, comments, doctypes and
      processing instructions are dropped;
    * tags in ``_KEEP_TAGS`` are emitted lowercase with attributes
      stripped, and balanced (stray close tags ignored, open tags closed
      at EOF) so the output is well-formed;
    * all other tags are unwrapped — their text content remains;
    * character/entity references are decoded by the parser and text is
      re-escaped minimally (&amp; &lt; &gt;).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._out: List[str] = []
        self._stack: List[str] = []
        self._skip: Optional[str] = None

    # -- tag events ---------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if self._skip is not None:
            return
        if tag in _DROP_CONTENT:
            self._skip = tag
            return
        if tag in _KEEP_VOID:
            self._out.append(f"<{tag}/>")
        elif tag in _KEEP_TAGS:
            self._out.append(f"<{tag}>")
            self._stack.append(tag)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        if self._skip is not None:
            return
        if tag in _KEEP_VOID:
            self._out.append(f"<{tag}/>")

    def handle_endtag(self, tag):
        tag = tag.lower()
        if self._skip is not None:
            if tag == self._skip:
                self._skip = None
            return
        if tag in _KEEP_TAGS and tag in self._stack:
            # balance: close any unclosed children first
            while self._stack:
                top = self._stack.pop()
                self._out.append(f"</{top}>")
                if top == tag:
                    break

    def handle_data(self, data):
        if self._skip is None and data:
            self._out.append(_xml_escape(data, quote=False))

    def result(self) -> str:
        while self._stack:  # close remaining open tags at EOF
            self._out.append(f"</{self._stack.pop()}>")
        return "".join(self._out)


# Fast-path token: plain text without markup metacharacters, or a bare
# lowercase attribute-free tag. Anything else falls through to the parser.
_FAST_TOKEN = __import__("re").compile(r"[^<>&]+|<(/?)([a-z]+[1-6]?)(/?)>")


def _already_canonical(text: str) -> bool:
    """True iff the parser would emit ``text`` unchanged: only whitelisted
    lowercase attribute-free tags, exactly nested, no entities/stray
    ``<>&`` — the shape of already-normalized (or recrawl-clean) input.
    One C-speed regex scan + a tag stack; any doubt returns False."""
    pos = 0
    stack: List[str] = []
    for m in _FAST_TOKEN.finditer(text):
        if m.start() != pos:
            return False  # stray <, > or &
        pos = m.end()
        name = m.group(2)
        if name is None:
            continue  # plain text run
        closing, selfclose = m.group(1) == "/", m.group(3) == "/"
        if selfclose:
            if closing or name not in _KEEP_VOID:
                return False
            continue
        if closing:
            if not stack or stack[-1] != name:
                return False  # parser would re-balance → output differs
            stack.pop()
        elif name in _KEEP_TAGS:
            stack.append(name)
        else:
            return False  # void-without-slash, droppable or unknown tag
    return pos == len(text) and not stack


_META_CHARSET = re.compile(
    rb"<meta\s[^>]*?charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)", re.I
)


def _decode_html_bytes(data: bytes) -> str:
    """Charset resolution in Tika's precedence order: BOM (strict — a
    declared BOM with broken payload is a real error row, which is what
    keeps the synthetic corpus' malformed rows on the error path),
    then strict UTF-8 (the fast, overwhelmingly-common case), then a
    ``<meta charset>`` / http-equiv declaration in the first 2 KB
    (decoded tolerantly — real pages mislabel), else cp1252-with-
    replacement, the de-facto web fallback."""
    if data[:3] == b"\xef\xbb\xbf":
        return data.decode("utf-8-sig")
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16")
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        pass
    m = _META_CHARSET.search(data[:2048])
    if m is not None:
        name = m.group(1).decode("ascii", "replace").strip().lower()
        try:
            import codecs

            codec = codecs.lookup(name).name
        except LookupError:
            codec = "cp1252"
        if codec in ("utf-16", "utf-16-le", "utf-16-be", "utf-32"):
            codec = "cp1252"  # a 16-bit label on non-BOM bytes is a lie
        return data.decode(codec, "replace")
    return data.decode("cp1252", "replace")


def html_to_xhtml_text(data: bytes) -> str:
    """Deterministic HTML→XHTML text: charset-resolved decode
    (:func:`_decode_html_bytes` — BOM / strict UTF-8 / meta charset /
    cp1252 fallback, matching the Tika behavior the reference got from
    runner.py:36-115; only a broken BOM payload remains an error row),
    Tika-style markup normalization, first-root truncation. Real crawl
    HTML loses scripts/styles/attributes here, so downstream regex
    workflows see clean structural text only.

    Already-canonical input (exactly what the normalizer itself emits —
    the normalizer is a fixpoint, property-tested) takes a single-scan
    fast path and skips the parser: recrawl/pretextized corpora pay no
    parse cost, messy crawl HTML gets the full treatment."""
    text = _decode_html_bytes(data)
    if not _already_canonical(text):
        norm = _XhtmlNormalizer()
        norm.feed(text)
        norm.close()
        text = norm.result()
    idx = text.find(_HTML_CLOSE)
    if idx >= 0:
        text = text[: idx + len(_HTML_CLOSE)]
    return text


_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li tr table ul ol dl blockquote pre section "
    "article header footer nav aside br hr td th caption title".split()
)


class _PlainTextExtractor(HTMLParser):
    """Trafilatura-style HTML → plain text (north_star wording).

    Drops ALL markup; script/style/comment content removed; block-level
    boundaries become newlines (cells separated by a tab); entities
    decoded; whitespace normalized per line; empty lines dropped.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._parts: List[str] = []
        self._skip: Optional[str] = None

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if self._skip is not None:
            return
        if tag in _DROP_CONTENT:
            self._skip = tag
        elif tag in ("td", "th"):
            self._parts.append("\t")
        elif tag in _BLOCK_TAGS:
            self._parts.append("\n")

    def handle_startendtag(self, tag, attrs):
        # A self-closed <script/> has no content and never delivers an end
        # tag (html.parser stays out of CDATA mode for it), so entering
        # skip mode here would silently drop the rest of the document.
        # Mirror _XhtmlNormalizer: never skip, only emit block boundaries.
        tag = tag.lower()
        if self._skip is not None or tag in _DROP_CONTENT:
            return
        if tag in ("td", "th"):
            self._parts.append("\t")
        elif tag in _BLOCK_TAGS:
            self._parts.append("\n")

    def handle_endtag(self, tag):
        tag = tag.lower()
        if self._skip is not None:
            if tag == self._skip:
                self._skip = None
            return
        if tag in _BLOCK_TAGS and tag not in ("td", "th", "br", "hr"):
            self._parts.append("\n")

    def handle_data(self, data):
        if self._skip is None and data:
            # raw tabs in running text are whitespace; the TAB cell
            # separator is inserted only by the td/th handler above
            self._parts.append(data.replace("\t", " "))

    def result(self) -> str:
        lines = []
        for line in "".join(self._parts).split("\n"):
            # collapse runs of spaces but keep the tab cell separators
            cells = [" ".join(c.split()) for c in line.split("\t")]
            cleaned = "\t".join(cells).strip("\t ").strip()
            if cleaned:
                lines.append(cleaned)
        return "\n".join(lines)


def html_to_plain_text(data) -> str:
    """Markup-free text for the training-data pipeline (dedup/quality/
    lang-id operate on THIS, not on XHTML). Accepts bytes or str;
    bytes go through the same charset resolution as the XHTML path."""
    text = (
        _decode_html_bytes(bytes(data))
        if isinstance(data, (bytes, bytearray))
        else data
    )
    p = _PlainTextExtractor()
    p.feed(text)
    p.close()
    return p.result()


_DOCX_P = None  # compiled lazily (module import stays cheap)


def docx_to_xhtml_text(data: bytes) -> str:
    """Office (docx) → XHTML text, pure stdlib (zipfile + regex over OOXML).

    Covers the reference's Tika "Office" branch (runner.py:36-115): a
    .docx is a ZIP whose ``word/document.xml`` carries paragraphs
    (``<w:p>``), text runs (``<w:t>``), tabs and breaks. Table cells
    (``<w:tc>``) re-render as ``<table><tr><td>`` like the Tika output
    the workflows match against. Deterministic; no external parser.
    """
    global _DOCX_P
    import io
    import re as _re
    import zipfile

    if _DOCX_P is None:
        _DOCX_P = {
            "p": _re.compile(r"<w:p[ >/].*?(?:</w:p>|/>)", _re.S),
            "t": _re.compile(r"<w:t(?: [^>]*)?>(.*?)</w:t>", _re.S),
            "tbl": _re.compile(r"<w:tbl>.*?</w:tbl>", _re.S),
            "tr": _re.compile(r"<w:tr[ >].*?</w:tr>|<w:tr>.*?</w:tr>", _re.S),
            "tc": _re.compile(r"<w:tc>.*?</w:tc>", _re.S),
        }
    import html as _h

    with zipfile.ZipFile(io.BytesIO(data)) as z:
        try:
            xml = z.read("word/document.xml").decode("utf-8")
        except KeyError:
            raise ValueError("ZIP container has no word/document.xml (not a docx)")

    def runs_text(fragment: str) -> str:
        text = "".join(_DOCX_P["t"].findall(fragment))
        text = text.replace("<w:tab/>", "\t")
        return _h.unescape(text)

    parts: List[str] = []
    pos = 0
    # tables render as <table>; paragraphs outside tables as <p>
    for tbl in _DOCX_P["tbl"].finditer(xml):
        for p in _DOCX_P["p"].finditer(xml, pos, tbl.start()):
            t = runs_text(p.group(0))
            if t:
                parts.append(f"<p>{_xml_escape(t, quote=False)}</p>")
        rows = []
        for tr in _DOCX_P["tr"].finditer(tbl.group(0)):
            cells = [
                f"<td>{_xml_escape(runs_text(tc.group(0)), quote=False)}</td>"
                for tc in _DOCX_P["tc"].finditer(tr.group(0))
            ]
            rows.append("<tr>" + "".join(cells) + "</tr>")
        parts.append("<table>" + "".join(rows) + "</table>")
        pos = tbl.end()
    for p in _DOCX_P["p"].finditer(xml, pos):
        t = runs_text(p.group(0))
        if t:
            parts.append(f"<p>{_xml_escape(t, quote=False)}</p>")
    return "<html><body>" + "".join(parts) + "</body></html>"


def pdf_to_xhtml_text(data: bytes) -> str:
    """PDF → XHTML with geometric table recognition.

    The 7-stage recognizer (guiding lines → consolidate → borders →
    tables → cell regions → consolidate → render) is fully implemented
    in :mod:`.pdf_tables` as pure geometry. Byte decoding uses PyMuPDF
    when available, else the pure-stdlib text-layer parser
    (:mod:`.pdf_textlayer` — uncompressed/Flate streams). PDFs outside
    that subset raise and the row becomes an error row (the reference
    skips such docs too, runner.py:326-339).
    """
    from .pdf_tables import pdf_bytes_to_xhtml

    return pdf_bytes_to_xhtml(data)


def sniff_content_type(data: Optional[bytes]) -> str:
    if data is None or len(data) == 0:
        return "empty"
    if data[:5] == b"%PDF-":
        return "pdf"
    if data[:4] == b"PK\x03\x04":
        # Office ZIP container; refined to docx/xlsx/pptx/odt/ods/odp
        # by member inspection during extraction (the magic alone
        # can't tell)
        return "ooxml"
    if data[:5] == b"{\\rtf":
        return "rtf"
    if data[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        # OLE2 compound file; refined to doc by stream inspection
        return "ole2"
    return "html"


def ooxml_to_xhtml_text(data: bytes) -> tuple:
    """(xhtml, refined content type) for an Office ZIP container —
    dispatched on which document part the archive carries, the same
    transparent docx/xlsx/pptx/odt/ods/odp acceptance the reference
    got from Tika (runner.py:36-115)."""
    import io
    import zipfile

    from . import office

    with zipfile.ZipFile(io.BytesIO(data)) as z:
        names = set(z.namelist())
    if "word/document.xml" in names:
        return docx_to_xhtml_text(data), "docx"
    if "xl/workbook.xml" in names:
        return office.xlsx_to_xhtml_text(data), "xlsx"
    if "ppt/presentation.xml" in names:
        return office.pptx_to_xhtml_text(data), "pptx"
    if "content.xml" in names:
        from . import odf

        return odf.odf_to_xhtml_text(data)
    raise ValueError(
        "ZIP container has no word/document.xml, xl/workbook.xml, "
        "ppt/presentation.xml or content.xml (not an Office document)"
    )


def ole2_to_xhtml_text(data: bytes) -> tuple:
    """(xhtml, refined type, None) for an OLE2 compound file —
    dispatched on which application stream the container carries
    (Word / Excel BIFF8 / binary PowerPoint), mirroring the ZIP-member
    dispatch of :func:`ooxml_to_xhtml_text`."""
    from .cfb import CfbReader

    reader = CfbReader(data)
    names = set(reader.streams)
    if "WordDocument" in names:
        from .doc_binary import doc_to_xhtml_text

        return doc_to_xhtml_text(data, reader), "doc", None
    if "Workbook" in names or "Book" in names:
        from .legacy_office import xls_to_xhtml_text

        return xls_to_xhtml_text(data, reader), "xls", None
    if "PowerPoint Document" in names:
        from .legacy_office import ppt_to_xhtml_text

        return ppt_to_xhtml_text(data, reader), "ppt", None
    listing = ", ".join(sorted(names)) or "none"
    raise ValueError(
        "OLE2 container has no WordDocument, Workbook or PowerPoint "
        f"Document stream (members: {listing})"
    )


# Oversized-document guard: one pathological page must not blow an Arrow
# batch / executor heap. 64 MB of raw bytes is far beyond any real page.
MAX_DOC_BYTES = 64 * 1024 * 1024


def extract_one(data: Optional[bytes]) -> tuple:
    """(text, content_type, error) for one document's raw bytes."""
    ctype = sniff_content_type(data)
    if ctype == "empty":
        return None, ctype, "empty document"
    if len(data) > MAX_DOC_BYTES:
        return None, ctype, f"document exceeds {MAX_DOC_BYTES} bytes ({len(data)})"
    try:
        if ctype == "pdf":
            return pdf_to_xhtml_text(data), ctype, None
        if ctype == "ooxml":
            text, kind = ooxml_to_xhtml_text(data)
            return text, kind, None
        if ctype == "rtf":
            from .rtf import rtf_to_xhtml_text

            return rtf_to_xhtml_text(data), ctype, None
        if ctype == "ole2":
            return ole2_to_xhtml_text(data)
        return html_to_xhtml_text(data), ctype, None
    except Exception as ex:
        return None, ctype, f"{type(ex).__name__}: {ex}"


def resolve_text(raw: Optional[bytes], pre: Optional[str]) -> tuple:
    """(text, content_type, error) for one page: a non-empty pre-filled
    ``text`` (pre-textized corpora) wins, otherwise ``raw`` is extracted."""
    if isinstance(pre, str) and pre:
        return pre, "pretextized", None
    return extract_one(bytes(raw) if raw is not None else None)


def extract_text(pages: DataFrame, repartition_by_url: Optional[int] = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted text table.

    Rows whose ``text`` column is already populated (pre-textized corpora)
    skip extraction. The ``html`` column is dropped immediately after this
    stage — downstream stages never carry page bytes (column pruning is the
    single biggest scan saving at 100 TB).
    """
    if repartition_by_url:
        from pyspark.sql import functions as F

        pages = pages.repartition(repartition_by_url, F.xxhash64("url"))

    def row_fn(url, warc_ts, raw, pre, lang):
        text, ctype, err = resolve_text(raw, pre)
        yield (url, warc_ts, text, lang, ctype, err)

    return map_rows(
        pages.select("url", "warc_ts", "html", "text", "lang"),
        EXTRACTED_SCHEMA,
        lambda: row_fn,
    )
