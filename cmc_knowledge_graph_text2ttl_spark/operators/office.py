"""docx / xlsx / pptx → XHTML text, pure stdlib (zipfile + regex over OOXML).

The OOXML formats the reference's Tika "Office" branch accepted
(runner.py:36-115). The ZIP members are plain XML, and the subset the
workflows match against (paragraph text, table cells) needs no DOM:
anchored regexes over the document parts, entity-unescaped, rendered
through :mod:`.xhtml`. Deterministic; no external parser.

Canonical renders (gate-checked byte-exactly):

* docx / pptx — one walker, :class:`_Ooxml`, built for the ``w`` and
  ``a`` namespaces: ``<tbl>`` tables render as ``<table><tr><td>`` (a
  cell's runs concatenated), the other ``<p>`` paragraphs as ``<p>``
  (empty ones dropped); pptx wraps each slide (numeric member order) in
  ``<div class="slide">``. Element patterns end at the element's own
  close tag, the self-closing form tried first. Runs read ``<t>`` text,
  the attribute-free ``<tab/>`` as TAB (``<w:tab w:pos=…/>`` in
  ``<w:tabs>`` is a tab stop) and ``<br…>`` as LF (pptx writes
  ``<a:br><a:rPr/></a:br>``), the rule of the rtf, odf and doc readers.
  Limit: a paragraph nested in a paragraph (``w:txbxContent`` text
  boxes, ``mc:AlternateContent``) ends the outer one at its close tag.
* xlsx — one ``<h1>`` per sheet (workbook order via the relationship
  table, not member order) followed by a ``<table>``; shared-string,
  inline-string, formula-string and numeric cells all resolve; ``r=``
  cell references fill column gaps with empty ``<td>``.

The OOXML fixture writers live in the repo-root ``fixture_writers.py``.
"""

from __future__ import annotations

import html as _html
import io
import re
import zipfile
from typing import Dict, List, Tuple

from . import xhtml as X

__all__ = ["docx_to_xhtml_text", "xlsx_to_xhtml_text", "pptx_to_xhtml_text"]

_SI = re.compile(r"<si>(.*?)</si>", re.S)
_T = re.compile(r"<t(?: [^>]*[^/>])?>(.*?)</t>", re.S)
_SHEET = re.compile(
    r'<sheet\b[^>]*name="([^"]*)"[^>]*r:id="([^"]*)"[^>]*/?>', re.S
)
_REL = re.compile(r'<Relationship\b[^>]*Id="([^"]*)"[^>]*Target="([^"]*)"')
_ROW = re.compile(r"<row\b[^>]*>(.*?)</row>", re.S)
_CELL = re.compile(r"<c\b([^>]*?)(?:/>|>(.*?)</c>)", re.S)
_V = re.compile(r"<v(?: [^>]*)?>(.*?)</v>", re.S)
_ATTR_R = re.compile(r'\br="([A-Z]+)\d+"')
_ATTR_T = re.compile(r'\bt="([^"]*)"')

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
            rows: List[List[str]] = []
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
                        val = _si_text(inner)
                    else:  # n / str / b — lexical <v> content
                        vm = _V.search(inner)
                        val = _html.unescape(vm.group(1)) if vm else ""
                    cells.append(val)
                    next_col = col + 1
                rows.append(cells)
            parts += [X.heading(1, name), X.table(rows)]
    return X.document(parts)


class _Ooxml:
    """The docx (``w``) / pptx (``a``) walk of one part (module docstring)."""

    def __init__(self, ns: str) -> None:
        def element(tag: str) -> re.Pattern:
            return re.compile(
                rf"<{ns}:{tag}\b[^>]*/>|<{ns}:{tag}\b[^>]*>.*?</{ns}:{tag}>", re.S
            )

        self.p, self.tbl, self.tr, self.tc = map(element, ("p", "tbl", "tr", "tc"))
        # <t> text (an empty <t/>, with or without attributes, is no open
        # tag) | attribute-free <tab/> | <br…>
        self.run = re.compile(
            rf"<{ns}:t(?: [^>]*[^/>])?>(.*?)</{ns}:t>|(<{ns}:tab/>)|<{ns}:br\b", re.S
        )

    def text(self, fragment: str) -> str:
        parts = (
            m.group(1) if m.lastindex == 1 else "\t" if m.lastindex else "\n"
            for m in self.run.finditer(fragment)
        )
        return _html.unescape("".join(parts))

    def blocks(self, xml: str) -> List[str]:
        def flat(span: str) -> List[str]:
            texts = (self.text(p.group(0)) for p in self.p.finditer(span))
            return [X.paragraph(t) for t in texts if t]

        def rows(tbl: str) -> List[List[str]]:
            return [
                [self.text(tc.group(0)) for tc in self.tc.finditer(tr.group(0))]
                for tr in self.tr.finditer(tbl)
            ]

        return X.around_tables(xml, self.tbl, flat, rows)


_W = _Ooxml("w")
_A = _Ooxml("a")


def docx_to_xhtml_text(data: bytes) -> str:
    """Word document → XHTML (see module docstring for the render)."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        if "word/document.xml" not in z.namelist():
            raise ValueError("ZIP container has no word/document.xml (not a docx)")
        xml = z.read("word/document.xml").decode("utf-8")
    return X.document(_W.blocks(xml))


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
        parts = [
            X.slide(_A.blocks(z.read(member).decode("utf-8"))) for _, member in slides
        ]
    return X.document(parts)
