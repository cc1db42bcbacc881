"""xlsx / pptx → XHTML text, pure stdlib (zipfile + regex over OOXML).

Extends the Office branch beyond docx (``extract.docx_to_xhtml_text``)
with the other two OOXML formats the reference's Tika path accepted
transparently (runner.py:36-115): spreadsheets and presentations. Same
approach as docx — the ZIP members are plain XML, and the subset the
workflows match against (paragraph text, table cells) needs no DOM:
anchored regexes over the document parts, entity-unescaped, re-rendered
as canonical XHTML. Deterministic; no external parser.

Canonical renders (gate-checked byte-exactly):

* xlsx — one ``<h1>`` per sheet (workbook order via the relationship
  table, not member order) followed by a ``<table>``; shared-string,
  inline-string, formula-string and numeric cells all resolve; ``r=``
  cell references fill column gaps with empty ``<td>``.
* pptx — one ``<div class="slide">`` per slide (numeric member order);
  ``<a:tbl>`` tables render as ``<table><tr><td>`` and the remaining
  ``<a:p>`` paragraphs as ``<p>``, mirroring the docx renderer.

The xlsx/pptx fixture writers live in the repo-root
``fixture_writers.py``.
"""

from __future__ import annotations

import html as _html
import io
import re
import zipfile
from typing import Dict, List, Tuple

__all__ = ["xlsx_to_xhtml_text", "pptx_to_xhtml_text"]

_SI = re.compile(r"<si>(.*?)</si>", re.S)
_T = re.compile(r"<t(?: [^>]*)?>(.*?)</t>", re.S)
_SHEET = re.compile(
    r'<sheet\b[^>]*name="([^"]*)"[^>]*r:id="([^"]*)"[^>]*/?>', re.S
)
_REL = re.compile(r'<Relationship\b[^>]*Id="([^"]*)"[^>]*Target="([^"]*)"')
_ROW = re.compile(r"<row\b[^>]*>(.*?)</row>", re.S)
_CELL = re.compile(r"<c\b([^>]*?)(?:/>|>(.*?)</c>)", re.S)
_V = re.compile(r"<v(?: [^>]*)?>(.*?)</v>", re.S)
_ATTR_R = re.compile(r'\br="([A-Z]+)\d+"')
_ATTR_T = re.compile(r'\bt="([^"]*)"')

_A_P = re.compile(r"<a:p>.*?</a:p>|<a:p\b[^>]*>.*?</a:p>", re.S)
_A_T = re.compile(r"<a:t(?: [^>]*)?>(.*?)</a:t>", re.S)
_A_TBL = re.compile(r"<a:tbl>.*?</a:tbl>|<a:tbl\b[^>]*>.*?</a:tbl>", re.S)
_A_TR = re.compile(r"<a:tr\b[^>]*>.*?</a:tr>|<a:tr>.*?</a:tr>", re.S)
_A_TC = re.compile(r"<a:tc\b[^>]*>.*?</a:tc>|<a:tc>.*?</a:tc>", re.S)
_SLIDE_NUM = re.compile(r"^ppt/slides/slide(\d+)\.xml$")


def _col_index(letters: str) -> int:
    """'A' → 0, 'Z' → 25, 'AA' → 26 — spreadsheet column arithmetic."""
    v = 0
    for ch in letters:
        v = v * 26 + (ord(ch) - 64)
    return v - 1


def _si_text(fragment: str) -> str:
    """One shared-string item: concat its (possibly rich-text) runs."""
    return _html.unescape("".join(_T.findall(fragment)))


def xlsx_to_xhtml_text(data: bytes) -> str:
    """Spreadsheet → XHTML (see module docstring for the render)."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        names = set(z.namelist())
        if "xl/workbook.xml" not in names:
            raise ValueError("ZIP container has no xl/workbook.xml (not an xlsx)")
        workbook = z.read("xl/workbook.xml").decode("utf-8")
        shared: List[str] = []
        if "xl/sharedStrings.xml" in names:
            sstxml = z.read("xl/sharedStrings.xml").decode("utf-8")
            shared = [_si_text(m.group(1)) for m in _SI.finditer(sstxml)]
        rels: Dict[str, str] = {}
        if "xl/_rels/workbook.xml.rels" in names:
            relxml = z.read("xl/_rels/workbook.xml.rels").decode("utf-8")
            rels = {rid: tgt for rid, tgt in _REL.findall(relxml)}
        sheets: List[Tuple[str, str]] = []  # (display name, member xml)
        for name, rid in _SHEET.findall(workbook):
            target = rels.get(rid)
            if target is None:
                raise ValueError(f"xlsx sheet {name!r}: unresolved r:id {rid!r}")
            member = "xl/" + target.lstrip("/")
            if member not in names:
                raise ValueError(f"xlsx sheet {name!r}: missing member {member}")
            sheets.append((_html.unescape(name), z.read(member).decode("utf-8")))

        parts: List[str] = []
        for name, xml in sheets:
            parts.append(f"<h1>{_html.escape(name, quote=False)}</h1>")
            rows_html: List[str] = []
            for row in _ROW.finditer(xml):
                cells: List[str] = []
                next_col = 0
                for c in _CELL.finditer(row.group(1)):
                    attrs, inner = c.group(1), c.group(2) or ""
                    rm = _ATTR_R.search(attrs)
                    col = _col_index(rm.group(1)) if rm else next_col
                    while len(cells) < col:  # gap → empty cells
                        cells.append("")
                    tm = _ATTR_T.search(attrs)
                    ctype = tm.group(1) if tm else "n"
                    if ctype == "s":
                        vm = _V.search(inner)
                        if vm is None:
                            raise ValueError("xlsx shared-string cell has no <v>")
                        idx = int(vm.group(1))
                        if not 0 <= idx < len(shared):
                            raise ValueError(
                                f"xlsx shared-string index {idx} out of range"
                            )
                        val = shared[idx]
                    elif ctype == "inlineStr":
                        val = _html.unescape("".join(_T.findall(inner)))
                    else:  # n / str / b — lexical <v> content
                        vm = _V.search(inner)
                        val = _html.unescape(vm.group(1)) if vm else ""
                    cells.append(val)
                    next_col = col + 1
                rows_html.append(
                    "<tr>"
                    + "".join(
                        f"<td>{_html.escape(v, quote=False)}</td>" for v in cells
                    )
                    + "</tr>"
                )
            parts.append("<table>" + "".join(rows_html) + "</table>")
    return "<html><body>" + "".join(parts) + "</body></html>"


def _a_paragraph_text(fragment: str) -> str:
    return _html.unescape("".join(_A_T.findall(fragment)))


def pptx_to_xhtml_text(data: bytes) -> str:
    """Presentation → XHTML (see module docstring for the render)."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        names = z.namelist()
        if "ppt/presentation.xml" not in set(names):
            raise ValueError(
                "ZIP container has no ppt/presentation.xml (not a pptx)"
            )
        slides = sorted(
            (int(m.group(1)), n)
            for n in names
            for m in [_SLIDE_NUM.match(n)]
            if m
        )
        parts: List[str] = []
        for _, member in slides:
            xml = z.read(member).decode("utf-8")
            body: List[str] = []
            pos = 0
            # tables first (their <a:p> cell content must not re-render
            # as free paragraphs), remaining paragraphs in between —
            # the same two-pass shape as extract.docx_to_xhtml_text
            for tbl in _A_TBL.finditer(xml):
                for p in _A_P.finditer(xml, pos, tbl.start()):
                    t = _a_paragraph_text(p.group(0))
                    if t:
                        body.append(f"<p>{_html.escape(t, quote=False)}</p>")
                rows = []
                for tr in _A_TR.finditer(tbl.group(0)):
                    cells = [
                        "<td>"
                        + _html.escape(_a_paragraph_text(tc.group(0)), quote=False)
                        + "</td>"
                        for tc in _A_TC.finditer(tr.group(0))
                    ]
                    rows.append("<tr>" + "".join(cells) + "</tr>")
                body.append("<table>" + "".join(rows) + "</table>")
                pos = tbl.end()
            for p in _A_P.finditer(xml, pos):
                t = _a_paragraph_text(p.group(0))
                if t:
                    body.append(f"<p>{_html.escape(t, quote=False)}</p>")
            parts.append('<div class="slide">' + "".join(body) + "</div>")
    return "<html><body>" + "".join(parts) + "</body></html>"
