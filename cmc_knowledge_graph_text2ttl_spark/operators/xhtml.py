"""The XHTML the document readers write, in one place.

The Office/RTF readers (docx, xlsx, pptx, odt/ods/odp, rtf, doc, xls,
ppt) render to one contract: ``<html><body>`` around ``<p>``,
``<h1>``…``<h6>``, ``<table><tr><td>`` and, for presentations,
``<div class="slide">``, text escaped by ``html.escape(quote=False)``.
The HTML normalizer (``extract._XhtmlNormalizer``, a tested fixpoint on
the hot path) and the PDF page render (``pdf_tables.render_page``, the
reference's layout) write their own markup on purpose.
"""

from __future__ import annotations

import re
from html import escape
from typing import Callable, Iterable, List, Sequence


def _esc(text: str) -> str:
    return escape(text, quote=False)


def paragraph(text: str) -> str:
    return f"<p>{_esc(text)}</p>"


def heading(level: int, text: str) -> str:
    return f"<h{level}>{_esc(text)}</h{level}>"


def table(rows: Iterable[Sequence[str]]) -> str:
    trs = ("".join(f"<td>{_esc(c)}</td>" for c in row) for row in rows)
    return "<table>" + "".join(f"<tr>{tr}</tr>" for tr in trs) + "</table>"


def slide(blocks: Iterable[str]) -> str:
    return '<div class="slide">' + "".join(blocks) + "</div>"


def document(blocks: Iterable[str]) -> str:
    return "<html><body>" + "".join(blocks) + "</body></html>"


def around_tables(
    xml: str, table_rx: re.Pattern, flat: Callable, rows: Callable
) -> List[str]:
    """Blocks of one markup region in document order, tables first: the
    text of each ``table_rx`` match renders as ``table(rows(text))`` and
    each span between tables as ``flat(span)``, so the paragraphs inside
    a cell never render again as free paragraphs."""
    out: List[str] = []
    pos = 0
    for tbl in table_rx.finditer(xml):
        out += flat(xml[pos : tbl.start()]) + [table(rows(tbl.group(0)))]
        pos = tbl.end()
    return out + flat(xml[pos:])
