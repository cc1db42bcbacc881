"""PDF geometric table recognition → XHTML (pure geometry, no PyMuPDF).

Reimplements the reference's 7-stage per-page pipeline
(text_to_turtle_pdf_to_text.py:319-479, `PdfTableRecognizer`) as pure
functions over a :class:`PageModel` — the page's word boxes and thin
line rectangles. What PyMuPDF would supply (``extractWORDS`` /
``get_drawings``) is isolated behind :func:`pdf_bytes_to_page_models`:
PyMuPDF when installed, else the pure-stdlib text-layer parser
(:mod:`.pdf_textlayer`) — so the whole pipeline runs end-to-end with no
native dependency on the supported PDF subset.

Stages (thresholds identical to the reference's tuning params,
pdf_to_text.py:358-377):

1. word blocks (given by the page model)
2. guiding-line extraction: thin rects (width <= 1.2pt) of length >= 5pt
   classified horizontal/vertical (pdf_to_text.py:689-717)
3. consolidation: segments on the same level (offset <= 0.5pt) with ends
   <= 1.5pt apart are merged; keep lines >= 16pt (:720-785)
4. border detection: a line is a border if >= 4 perpendicular lines
   terminate on it within 2pt (:788-820)
5. table detection: 4-border combinations spanning >= 3 h-lines and
   >= 4 v-lines; overlapping candidates keep the larger area (:824-860)
6. cell regions with vertical-merge detection (:945-981); block→cell
   assignment via bisect + neighborhood max-overlap, accept at >= 0.9
   immediately, >= 0.5 after the search (:878-942)
7. cell/paragraph consolidation (top-aligned join, x-adjacent join,
   y-adjacent column join with the two-ratio extension heuristic) and
   XHTML render: <div class="page">, <p>, <table><tr><td> (:299-309,
   :397, :482-665)

Inside the engine this runs per document inside the extraction
``mapInPandas`` stage — distributing within a single page would be
anti-idiomatic (SURVEY.md §2.5).
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from functools import cmp_to_key
from typing import List, Optional, Sequence, Tuple


# ---------------------------------------------------------------------------
# Geometry primitives


@dataclass
class Box:
    """Axis-aligned rectangle (x0,y0 top-left, x1,y1 bottom-right)."""

    x0: float = 0.0
    y0: float = 0.0
    x1: float = 0.0
    y1: float = 0.0

    @property
    def cx(self) -> float:
        return (self.x0 + self.x1) / 2

    @property
    def cy(self) -> float:
        return (self.y0 + self.y1) / 2

    @property
    def width(self) -> float:
        return self.x1 - self.x0

    @property
    def height(self) -> float:
        return self.y1 - self.y0

    def grow_to_include(self, o: "Box") -> None:
        self.x0 = min(self.x0, o.x0)
        self.y0 = min(self.y0, o.y0)
        self.x1 = max(self.x1, o.x1)
        self.y1 = max(self.y1, o.y1)

    def union(self, o: "Box") -> "Box":
        return Box(
            min(self.x0, o.x0), min(self.y0, o.y0),
            max(self.x1, o.x1), max(self.y1, o.y1),
        )

    def intersection_area(self, o: "Box") -> float:
        w = min(self.x1, o.x1) - max(self.x0, o.x0)
        h = min(self.y1, o.y1) - max(self.y0, o.y0)
        return w * h if (w > 0 and h > 0) else 0.0

    def area(self) -> float:
        return max(self.width, 0.0) * max(self.height, 0.0)

    def shrink(self, amount: float) -> "Box":
        return Box(self.x0 + amount, self.y0 + amount, self.x1 - amount, self.y1 - amount)

    def expand(self, amount: float) -> "Box":
        return self.shrink(-amount)

    def overlaps(self, o: "Box") -> bool:
        return o.x0 <= self.x1 and o.x1 >= self.x0 and o.y0 <= self.y1 and o.y1 >= self.y0

    def near_overlaps(self, o: "Box", eps: float) -> bool:
        return (
            o.x0 <= self.x1 + eps and o.x1 >= self.x0 - eps
            and o.y0 <= self.y1 + eps and o.y1 >= self.y0 - eps
        )

    def contains(self, o: "Box") -> bool:
        return o.x0 >= self.x0 and o.x1 <= self.x1 and o.y0 >= self.y0 and o.y1 <= self.y1

    def spans_horizontally(self, o: "Box") -> bool:
        return o.x0 >= self.x0 and o.x1 <= self.x1


@dataclass
class Word:
    """A word/text block with its bounding box."""

    box: Box
    text: str


@dataclass
class PageModel:
    """Everything the recognizer needs from one PDF page: word boxes and
    the thin filled rectangles that draw the table grid."""

    words: List[Word]
    line_rects: List[Box]
    page_no: int = 0


@dataclass
class Params:
    """Tuning parameters, values from pdf_to_text.py:358-377."""

    min_line_length: float = 5.0
    max_line_width: float = 1.2
    min_guideline_length: float = 16.0
    max_line_offset: float = 0.5
    max_join_distance: float = 1.5
    max_border_dist: float = 2.0
    border_threshold: int = 4
    table_min_h_lines: int = 3
    table_min_v_lines: int = 4
    sufficient_cell_overlap: float = 0.9
    min_cell_overlap: float = 0.5
    min_line_join_height_dist: float = 0.2
    max_line_join_height_offset: float = 0.4
    text_col_epsilon: float = 1.0
    page_div: bool = True
    same_row_overlap_fraction: float = 0.87
    narrower_col_extension_fraction: float = 0.25
    wider_col_extension_fraction: float = 0.5
    alignment_delta: float = 1e-4


# ---------------------------------------------------------------------------
# Stage 2+3: guiding lines


def classify_guiding_lines(page: PageModel, p: Params) -> Tuple[List[Box], List[Box]]:
    """Thin rectangles → horizontal / vertical line segments."""
    horiz: List[Box] = []
    vert: List[Box] = []
    for r in page.line_rects:
        if r.height <= p.max_line_width:
            if r.width >= p.min_line_length:
                horiz.append(Box(r.x0, r.y0, r.x1, r.y1))
        elif r.width < p.max_line_width:
            if r.height >= p.min_line_length:
                vert.append(Box(r.x0, r.y0, r.x1, r.y1))
    return horiz, vert


def _join_segments(segments: List[Box], p: Params, horizontal: bool) -> List[Box]:
    """Merge co-level segments whose ends are close (one sorted sweep)."""
    if horizontal:
        def cmp(a: Box, b: Box) -> float:
            if abs(a.cy - b.cy) <= p.max_line_offset:
                return a.x0 - b.x0
            return a.y0 - b.y0
    else:
        def cmp(a: Box, b: Box) -> float:
            if abs(a.cx - b.cx) <= p.max_line_offset:
                return a.y0 - b.y0
            return a.x0 - b.x0

    ordered = sorted(segments, key=cmp_to_key(cmp))
    joined: List[Box] = []
    pred: Optional[Box] = None
    for seg in ordered:
        if pred is None:
            pred = seg
            continue
        same_level = (
            abs(seg.cy - pred.cy) <= p.max_line_offset
            if horizontal
            else abs(seg.cx - pred.cx) <= p.max_line_offset
        )
        ends_connect = (
            abs(seg.x0 - pred.x1) <= p.max_join_distance
            if horizontal
            else abs(seg.y0 - pred.y1) <= p.max_join_distance
        )
        if same_level and ends_connect:
            pred.grow_to_include(seg)
        else:
            joined.append(pred)
            pred = seg
    if pred is not None:
        joined.append(pred)
    return joined


def consolidate_guiding_lines(
    horiz: List[Box], vert: List[Box], p: Params
) -> Tuple[List[Box], List[Box]]:
    horiz = [r for r in _join_segments(horiz, p, True) if r.width > p.min_guideline_length]
    vert = [r for r in _join_segments(vert, p, False) if r.height > p.min_guideline_length]
    return horiz, vert


# ---------------------------------------------------------------------------
# Stage 4: borders


def find_borders(horiz: List[Box], vert: List[Box], p: Params):
    """A line is a border when enough perpendicular lines terminate on it."""
    top, bot = [], []
    for hl in horiz:
        top_ends = sum(1 for vl in vert if abs(hl.cy - vl.y0) <= p.max_border_dist)
        bot_ends = sum(1 for vl in vert if abs(hl.cy - vl.y1) <= p.max_border_dist)
        if top_ends >= p.border_threshold:
            top.append(hl)
        if bot_ends >= p.border_threshold:
            bot.append(hl)
    left, right = [], []
    for vl in vert:
        l_ends = sum(1 for hl in horiz if abs(vl.cx - hl.x0) <= p.max_border_dist)
        r_ends = sum(1 for hl in horiz if abs(vl.cx - hl.x1) <= p.max_border_dist)
        if l_ends >= p.border_threshold:
            left.append(vl)
        if r_ends >= p.border_threshold:
            right.append(vl)
    return top, bot, left, right


# ---------------------------------------------------------------------------
# Stage 5: tables


@dataclass
class TableGrid:
    h_lines: List[Box]
    v_lines: List[Box]
    bounds: Box = field(init=False)
    cells: List[List["CellRegion"]] = field(default_factory=list)

    def __post_init__(self):
        b = Box(float("inf"), float("inf"), float("-inf"), float("-inf"))
        for hl in self.h_lines:
            b.y0 = min(b.y0, hl.y0)
            b.y1 = max(b.y1, hl.y1)
        for vl in self.v_lines:
            b.x0 = min(b.x0, vl.x0)
            b.x1 = max(b.x1, vl.x1)
        self.bounds = b


@dataclass
class CellRegion:
    box: Box
    words: List[Word] = field(default_factory=list)


def find_tables(horiz: List[Box], vert: List[Box], p: Params) -> List[TableGrid]:
    top, bot, left, right = find_borders(horiz, vert, p)
    tables: List[TableGrid] = []
    for t_bd in top:
        for l_bd in left:
            if not t_bd.near_overlaps(l_bd, p.max_border_dist):
                continue
            for r_bd in right:
                if not t_bd.near_overlaps(r_bd, p.max_border_dist):
                    continue
                for b_bd in bot:
                    if not (
                        l_bd.near_overlaps(b_bd, p.max_border_dist)
                        and r_bd.near_overlaps(b_bd, p.max_border_dist)
                    ):
                        continue
                    area = Box(l_bd.cx, t_bd.cy, r_bd.cx, b_bd.cy)
                    h_in = [h for h in horiz if area.near_overlaps(h, p.max_border_dist)]
                    v_in = [v for v in vert if area.near_overlaps(v, p.max_border_dist)]
                    if len(v_in) < p.table_min_v_lines or len(h_in) < p.table_min_h_lines:
                        continue
                    # overlap resolution: keep the larger candidate
                    overlap = False
                    replace = None
                    for ti, other in enumerate(tables):
                        if other.bounds.overlaps(area):
                            overlap = True
                            if area.area() > other.bounds.area():
                                replace = ti
                            break
                    if not overlap or replace is not None:
                        tab = TableGrid(h_in, v_in)
                        if replace is None:
                            tables.append(tab)
                        else:
                            tables[replace] = tab
    return tables


# ---------------------------------------------------------------------------
# Stage 6: cells + block assignment


def build_cell_regions(table: TableGrid, p: Params) -> List[List[CellRegion]]:
    """Grid cells with vertical-merge detection: when the line above a cell
    does not actually span it, the region from the row above is reused
    (the merged cell occupies several grid positions)."""
    h_lines = sorted(table.h_lines, key=lambda r: r.y0)
    v_lines = sorted(table.v_lines, key=lambda r: r.x0)
    rows: List[List[CellRegion]] = []
    for h0, h1 in zip(h_lines[:-1], h_lines[1:]):
        row: List[CellRegion] = []
        for v0, v1 in zip(v_lines[:-1], v_lines[1:]):
            rect = Box(v0.cx, h0.cy, v1.cx, h1.cy)
            core = rect.shrink(p.max_join_distance)
            if not rows or h0.spans_horizontally(core):
                cell = CellRegion(Box(v0.cx, h0.cy, v1.cx, h1.cy))
            else:
                cell = rows[-1][len(row)]  # vertical merge: reuse upper region
                cell.box.grow_to_include(rect)
            row.append(cell)
        rows.append(row)
    return rows


def assign_words_to_cells(
    table: TableGrid, words: List[Word], p: Params
) -> List[Word]:
    """Map word blocks into the grid (bisect row/col lookup + neighborhood
    max-overlap search); returns the words NOT captured by the table."""
    h_lines = sorted(table.h_lines, key=lambda r: r.y0)
    v_lines = sorted(table.v_lines, key=lambda r: r.x0)
    rows = build_cell_regions(table, p)
    no_rows = len(h_lines) - 1
    no_cols = len(v_lines) - 1
    h_keys = [r.y0 for r in h_lines]
    v_keys = [r.x0 for r in v_lines]
    outer = table.bounds.expand(1.2)

    remaining: List[Word] = []
    for w in words:
        if not outer.contains(w.box):
            remaining.append(w)
            continue
        ri = bisect.bisect_left(h_keys, w.box.y0)
        if ri >= len(rows) or (ri > 0 and w.box.y0 < rows[ri][0].box.y0):
            ri -= 1
        ci = bisect.bisect_left(v_keys, w.box.x0)
        if ci >= len(rows[ri]) or (ci > 0 and w.box.x0 < rows[ri][ci].box.x0):
            ci -= 1
        cell = rows[ri][ci]
        wa = w.box.area()
        best = cell.box.intersection_area(w.box)
        if best < wa * p.sufficient_cell_overlap:
            # neighborhood max-overlap search (block straddles a grid line)
            for rd in range(max(0, ri - 1), min(no_rows, ri + 2)):
                for cd in range(max(0, ci - 1), min(no_cols, ci + 2)):
                    cand = rows[rd][cd]
                    a = cand.box.intersection_area(w.box)
                    if a > best:
                        cell, best = cand, a
        if best >= wa * p.min_cell_overlap:
            cell.words.append(w)
        else:
            remaining.append(w)
    table.cells = rows
    return remaining


# ---------------------------------------------------------------------------
# Stage 7: text consolidation


def _aligned(a: float, b: float, p: Params) -> bool:
    return abs(a - b) <= p.alignment_delta


def _is_next_word_on_line(a: Word, b: Word, p: Params) -> bool:
    if not _aligned(a.box.y0, b.box.y0, p):
        return False
    avg_char = a.box.width / max(len(a.text), 1)
    return a.box.x1 < b.box.x0 < a.box.x1 + avg_char * 1.5


def join_top_aligned(words: List[Word], p: Params) -> List[Word]:
    def cmp(a: Word, b: Word) -> float:
        if _aligned(a.box.y0, b.box.y0, p):
            return a.box.x0 - b.box.x0
        return a.box.y0 - b.box.y0

    ordered = sorted(words, key=cmp_to_key(cmp))
    out: List[Word] = []
    pred: Optional[Word] = None
    for w in ordered:
        if pred is not None and _is_next_word_on_line(pred, w, p):
            pred = Word(pred.box.union(w.box), f"{pred.text} {w.text}")
        else:
            if pred is not None:
                out.append(pred)
            pred = w
    if pred is not None:
        out.append(pred)
    return out


def join_x_adjacent(words: List[Word], p: Params) -> List[Word]:
    """Join blocks separated by < 1.5 avg char widths on the x-axis whose
    neighbor vertically covers the block's center line."""
    blocks = sorted(words, key=lambda w: w.box.x0)
    i = 0
    while i < len(blocks) - 1:
        b = blocks[i]
        avg_char = b.box.width / max(len(b.text), 1)
        n = i + 1
        while n < len(blocks) and blocks[n].box.x0 < b.box.x1:
            n += 1
        while n < len(blocks) and blocks[n].box.x0 < b.box.x1 + 1.5 * avg_char:
            other = blocks[n]
            if other.box.y0 <= b.box.cy <= other.box.y1:
                j = Word(b.box.union(other.box), f"{b.text} {other.text}")
                blocks[i] = j
                del blocks[n]
                b = j
            else:
                n += 1
        i += 1
    return blocks


def _column_extension(top: Box, bot: Box, p: Params) -> bool:
    """Two-ratio column-extension heuristic (pdf_to_text.py:626-665)."""
    if top.width >= bot.width:
        if (
            abs(bot.x0 - top.x0) < p.text_col_epsilon
            or abs(bot.x1 - top.x1) < p.text_col_epsilon
        ):
            return True
        return bot.width / top.width >= p.narrower_col_extension_fraction
    return top.width / bot.width >= p.wider_col_extension_fraction


def join_y_adjacent(words: List[Word], p: Params) -> List[Word]:
    blocks = sorted(words, key=lambda w: w.box.y0)
    i = 0
    while i < len(blocks) - 1:
        b = blocks[i]
        line_h = b.box.height
        n = i + 1
        while (
            n < len(blocks)
            and blocks[n].box.y0 < b.box.y1 - line_h * p.min_line_join_height_dist
        ):
            n += 1
        while (
            n < len(blocks)
            and blocks[n].box.y0 < b.box.y1 + line_h * p.max_line_join_height_offset
        ):
            other = blocks[n]
            covers = (
                _covers_horizontally(b.box, other.box)
                or _covers_horizontally(other.box, b.box)
            )
            if covers and _column_extension(b.box, other.box, p):
                j = Word(b.box.union(other.box), f"{b.text}<br/>{other.text}")
                blocks[i] = j
                del blocks[n]
                b = j
            else:
                n += 1
        i += 1
    return blocks


def _covers_horizontally(outer: Box, inner: Box) -> bool:
    return inner.x0 >= outer.x0 and inner.x1 <= outer.x1


def consolidate_text(words: List[Word], p: Params) -> List[Word]:
    return join_y_adjacent(join_x_adjacent(join_top_aligned(words, p), p), p)


# ---------------------------------------------------------------------------
# Rendering


def _on_same_row(a: Box, b: Box, frac: float) -> bool:
    ov = min(a.y1, b.y1) - max(a.y0, b.y0)
    if ov <= 0:
        return False
    return max(ov / a.height, ov / b.height) >= frac


def render_page(page: PageModel) -> str:
    """Run the full 7-stage pipeline on one page model → XHTML string."""
    p = Params()
    horiz, vert = classify_guiding_lines(page, p)
    horiz, vert = consolidate_guiding_lines(horiz, vert, p)
    tables = find_tables(horiz, vert, p)

    words = list(page.words)
    for table in tables:
        words = assign_words_to_cells(table, words, p)
    for table in tables:
        for row in table.cells:
            for cell in row:
                cell.words = consolidate_text(cell.words, p)
    words = consolidate_text(words, p)

    # interleave paragraphs and tables in reading order
    elements: List[object] = list(words) + list(tables)

    def elem_box(e) -> Box:
        return e.box if isinstance(e, Word) else e.bounds

    def cmp(a, b) -> float:
        ba, bb = elem_box(a), elem_box(b)
        if _on_same_row(ba, bb, p.same_row_overlap_fraction):
            return ba.x0 - bb.x0
        return ba.y0 - bb.y0

    out: List[str] = []
    if p.page_div:
        out.append(f'<div class="page" pageno="{page.page_no + 1}">\n')
    for e in sorted(elements, key=cmp_to_key(cmp)):
        if isinstance(e, Word):
            out.append(f"<p>{e.text}</p>\n")
        else:
            out.append("\n<table>\n")
            for row in e.cells:
                out.append("<tr>\n")
                for cell in row:
                    out.append("<td>")
                    for w in cell.words:
                        out.append(f"<p>{w.text}</p>\n")
                    out.append("</td>")
                out.append("</tr>\n")
            out.append("</table>\n\n")
    if p.page_div:
        out.append("</div>\n")
    return "".join(out)


def render_doc(pages: Sequence[PageModel]) -> str:
    return "".join(render_page(pg) for pg in pages)


# ---------------------------------------------------------------------------
# PyMuPDF adapter (the only part that needs the native lib)


def pdf_bytes_to_page_models(data: bytes) -> List[PageModel]:
    """Decode PDF bytes into page models.

    PyMuPDF when available (font-metric-exact word boxes, all filters);
    otherwise the pure-stdlib text-layer parser (:mod:`.pdf_textlayer`,
    uncompressed/Flate streams, approximate widths) — so the 7-stage
    recognizer runs end-to-end with no native dependency. PDFs outside
    the stdlib subset raise ValueError and become error rows.
    """
    try:
        import fitz
    except ImportError:
        from .pdf_textlayer import pdf_bytes_to_page_models_stdlib

        return pdf_bytes_to_page_models_stdlib(data)
    doc = fitz.open(stream=data, filetype="pdf")
    models: List[PageModel] = []
    for page_no, page in enumerate(doc.pages()):
        words = [
            Word(Box(x0, y0, x1, y1), text)
            for (x0, y0, x1, y1, text, *_rest) in page.get_textpage().extractWORDS()
        ]
        rects: List[Box] = []
        for path in page.get_drawings():
            items = path["items"]
            if len(items) == 1 and len(items[0]) == 3 and items[0][0] == "re":
                r = items[0][1]
                rects.append(Box(r.x0, r.y0, r.x1, r.y1))
        models.append(PageModel(words=words, line_rects=rects, page_no=page_no))
    return models


def pdf_bytes_to_xhtml(data: bytes) -> str:
    return render_doc(pdf_bytes_to_page_models(data))
