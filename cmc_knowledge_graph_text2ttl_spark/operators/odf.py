"""OpenDocument (odt/ods/odp) → XHTML text, pure stdlib (zip + regex).

Completes the Office branch with the OASIS container family the
reference's Tika path accepted transparently (runner.py:36-115). Same
approach as the OOXML extractors (operators/office.py): the ZIP's
``content.xml`` is plain XML and the text layer needs no DOM —
anchored regexes in document order, entity-unescaped, re-rendered as
canonical XHTML through :mod:`.xhtml`.

Canonical renders (gate-checked byte-exactly):

* ``text:h`` (outline level 1-6) → ``<h1>``…``<h6>``;
* ``text:p`` outside tables → ``<p>`` (empty paragraphs dropped);
* ``table:table`` → ``<table><tr><td>`` — cell paragraphs join with
  LF, ``table:number-columns-repeated`` expands;
* inline ``text:s`` (``text:c`` count), ``text:tab``,
  ``text:line-break`` → spaces / TAB / LF; ``text:span`` and
  ``text:a`` unwrap to their content;
* odp wraps each ``draw:page`` in ``<div class="slide">`` — the same
  shape as the pptx renderer.

The refined content type comes from the ``mimetype`` member when
present (``…opendocument.text`` → odt, ``.spreadsheet`` → ods,
``.presentation`` → odp), else odt.
"""

from __future__ import annotations

import html as _html
import io
import re
import zipfile
from typing import List, Tuple

from . import xhtml as X

__all__ = ["odf_to_xhtml_text"]

_H = re.compile(r"<text:h\b([^>]*)>(.*?)</text:h>", re.S)
_P = re.compile(r"<text:p\b[^>]*>(.*?)</text:p>|<text:p\b[^>]*/>", re.S)
_TABLE = re.compile(r"<table:table\b[^>]*>.*?</table:table>", re.S)
_TROW = re.compile(r"<table:table-row\b[^>]*>.*?</table:table-row>", re.S)
_TCELL = re.compile(
    # self-closed branch FIRST — the open-tag branch's non-greedy body
    # would otherwise swallow a self-closed cell plus its neighbour
    r"<table:table-cell\b([^>]*)/>"
    r"|<table:table-cell\b([^>]*)>(.*?)</table:table-cell>",
    re.S,
)
_PAGE = re.compile(r"<draw:page\b[^>]*>.*?</draw:page>", re.S)
_OUTLINE = re.compile(r'text:outline-level="(\d+)"')
_REPEAT = re.compile(r'table:number-columns-repeated="(\d+)"')
_SPACE = re.compile(r"<text:s\b([^>]*)/>")
_SPACE_C = re.compile(r'text:c="(\d+)"')
_ANY_TAG = re.compile(r"<[^>]+>")
_BODY = re.compile(r"<office:body>(.*)</office:body>", re.S)


def _inline_text(fragment: str) -> str:
    """One paragraph/heading's XML content → its text, expanding the
    ODF whitespace elements and unwrapping spans/links."""
    frag = fragment.replace("<text:tab/>", "\t").replace(
        "<text:line-break/>", "\n"
    )
    frag = _SPACE.sub(
        lambda m: " " * int((_SPACE_C.search(m.group(1)) or [None, "1"])[1]),
        frag,
    )
    return _html.unescape(_ANY_TAG.sub("", frag))


def _cell_text(inner: str) -> str:
    """A table cell's paragraphs, LF-joined (the docx/pptx convention)."""
    paras = [
        _inline_text(m.group(1) or "") for m in _P.finditer(inner)
    ]
    return "\n".join(p for p in paras if p != "" or len(paras) == 1)


def _render_blocks(xml: str) -> List[str]:
    """Headings, paragraphs and tables of one content region, in
    document order — tables first, so cell paragraphs never re-render
    as free paragraphs."""

    def flat(span: str) -> List[str]:
        out: List[str] = []
        pos = 0
        for h in _H.finditer(span):
            out.extend(paras(span[pos : h.start()]))
            lvl = min(6, max(1, int((_OUTLINE.search(h.group(1)) or [None, "1"])[1])))
            t = _inline_text(h.group(2))
            if t:
                out.append(X.heading(lvl, t))
            pos = h.end()
        out.extend(paras(span[pos:]))
        return out

    def paras(span: str) -> List[str]:
        texts = (_inline_text(m.group(1) or "") for m in _P.finditer(span))
        return [X.paragraph(t) for t in texts if t]

    def rows(tbl: str) -> List[List[str]]:
        out = []
        for tr in _TROW.finditer(tbl):
            cells: List[str] = []
            for c in _TCELL.finditer(tr.group(0)):
                attrs = c.group(1) if c.group(1) is not None else c.group(2) or ""
                rep = int((_REPEAT.search(attrs) or [None, "1"])[1])
                cells.extend([_cell_text(c.group(3) or "")] * rep)
            out.append(cells)
        return out

    return X.around_tables(xml, _TABLE, flat, rows)


def odf_to_xhtml_text(data: bytes) -> Tuple[str, str]:
    """(xhtml, refined content type) for an OpenDocument container."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        names = set(z.namelist())
        if "content.xml" not in names:
            raise ValueError("ZIP container has no content.xml (not an ODF file)")
        mimetype = ""
        if "mimetype" in names:
            mimetype = z.read("mimetype").decode("ascii", "replace")
        xml = z.read("content.xml").decode("utf-8")
    kind = "odt"
    if mimetype.endswith(".spreadsheet"):
        kind = "ods"
    elif mimetype.endswith(".presentation"):
        kind = "odp"
    bm = _BODY.search(xml)
    region = bm.group(1) if bm else xml
    # annotations and notes carry their own <text:p> children NESTED
    # inside a paragraph — strip them region-wide up front, or the
    # non-greedy paragraph regex would stop at their inner close tag
    region = re.sub(
        r"<office:annotation\b.*?</office:annotation>", "", region, flags=re.S
    )
    region = re.sub(r"<text:note\b.*?</text:note>", "", region, flags=re.S)
    if kind == "odp":
        parts = [X.slide(_render_blocks(pg.group(0))) for pg in _PAGE.finditer(region)]
    else:
        parts = _render_blocks(region)
    return X.document(parts), kind
