"""PDF geometric table recognition tests — synthetic page models
(the PyMuPDF byte-decoding adapter is environment-gated; the geometry
pipeline itself is fully testable without it).
"""

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators.pdf_tables import (
    Box,
    PageModel,
    Params,
    Word,
    classify_guiding_lines,
    consolidate_guiding_lines,
    find_tables,
    pdf_bytes_to_xhtml,
    render_page,
)


def thin_h(x0, x1, y, w=0.8):
    return Box(x0, y, x1, y + w)


def thin_v(x, y0, y1, w=0.8):
    return Box(x, y0, x + w, y1)


def grid_lines(x0=100, y0=100, cols=(0, 80, 160, 240, 320), rows=(0, 20, 40, 60)):
    """A full table grid: len(rows) h-lines, len(cols) v-lines."""
    lines = []
    for r in rows:
        lines.append(thin_h(x0, x0 + cols[-1], y0 + r))
    for c in cols:
        lines.append(thin_v(x0 + c, y0, y0 + rows[-1]))
    return lines


def word(x, y, text, w=30.0, h=10.0):
    return Word(Box(x, y, x + w, y + h), text)


class TestGuidingLines:
    def test_classification_thresholds(self):
        page = PageModel(
            words=[],
            line_rects=[
                thin_h(0, 100, 10),          # horizontal line
                thin_v(10, 0, 100),          # vertical line
                thin_h(0, 3, 20),            # too short (< 5pt) → dropped
                Box(0, 30, 100, 40),         # too thick (10pt) → dropped
            ],
        )
        h, v = classify_guiding_lines(page, Params())
        assert len(h) == 1 and len(v) == 1

    def test_segment_joining_and_min_length(self):
        p = Params()
        # two collinear segments 1pt apart join into one 40pt line;
        # a lone 10pt segment dies at the 16pt guideline threshold
        h = [thin_h(0, 19, 10), thin_h(20, 40, 10.2), thin_h(100, 110, 50)]
        joined, _ = consolidate_guiding_lines(h, [], p)
        assert len(joined) == 1
        assert joined[0].x0 == 0 and joined[0].x1 == 40

    def test_far_segments_not_joined(self):
        p = Params()
        h = [thin_h(0, 20, 10), thin_h(25, 50, 10)]  # 5pt gap > 1.5pt
        joined, _ = consolidate_guiding_lines(h, [], p)
        assert len(joined) == 2


class TestTables:
    def test_grid_recognized(self):
        page = PageModel(words=[], line_rects=grid_lines())
        p = Params()
        h, v = consolidate_guiding_lines(*classify_guiding_lines(page, p), p)
        tables = find_tables(h, v, p)
        assert len(tables) == 1
        assert len(tables[0].h_lines) == 4 and len(tables[0].v_lines) == 5

    def test_too_few_lines_rejected(self):
        # 3 v-lines < table_min_v_lines(4) → no table
        page = PageModel(
            words=[], line_rects=grid_lines(cols=(0, 80, 160), rows=(0, 20, 40, 60))
        )
        p = Params()
        h, v = consolidate_guiding_lines(*classify_guiding_lines(page, p), p)
        assert find_tables(h, v, p) == []

    def test_cells_filled_and_rendered(self):
        words = [
            # header row (y0=100..120 band)
            word(105, 105, "Name"), word(185, 105, "Qty"), word(265, 105, "Unit"),
            # data row 1
            word(105, 125, "Aspirin"), word(185, 125, "12.5"), word(265, 125, "mg"),
            # outside the table
            word(100, 300, "Footnote"),
        ]
        # NOTE: left/right borders need >= 4 h-line terminations
        # (border_threshold), so the smallest recognizable grid has 4
        # h-lines — faithful to the reference's thresholds
        page = PageModel(
            words=words,
            line_rects=grid_lines(cols=(0, 80, 160, 240), rows=(0, 20, 40, 60)),
        )
        xhtml = render_page(page)
        assert "<table>" in xhtml
        assert "<td><p>Name</p>\n</td>" in xhtml
        assert "<td><p>Aspirin</p>\n</td>" in xhtml
        assert "<p>Footnote</p>" in xhtml
        # reading order: table before the footnote paragraph
        assert xhtml.index("<table>") < xhtml.index("Footnote")

    def test_straddling_block_max_overlap_assignment(self):
        # a block that starts in cell (1,1) but mostly covers (1,2)
        words = [word(176, 125, "straddler", w=40)]
        page = PageModel(
            words=words,
            line_rects=grid_lines(cols=(0, 80, 160, 240), rows=(0, 20, 40, 60)),
        )
        xhtml = render_page(page)
        rows = xhtml.split("<tr>")
        # word spans x=176..216; columns are 100-180 / 180-260 / 260-340 —
        # it STARTS in column 1 but 90% covers column 2 → max-overlap
        # search must move it to the 2nd cell of the 2nd row
        assert "<td></td><td><p>straddler</p></td><td></td>" in rows[2].replace("\n", "")

    def test_vertical_merge_renders_in_both_rows(self):
        # remove the middle h-line segment over column 1 only → cell (1,1)
        # and (2,1) merge vertically; the reference re-renders the merged
        # region at every covered grid position
        # 5 h-lines so the left border still sees >= 4 full-width
        # terminations despite the partial second line
        lines = []
        x0, y0 = 100, 100
        cols, rows = (0, 80, 160, 240, 320), (0, 20, 40, 60, 80)
        for r in rows:
            if r == 20:
                lines.append(thin_h(x0 + 80, x0 + 320, y0 + r))  # gap over col 1
            else:
                lines.append(thin_h(x0, x0 + 320, y0 + r))
        for c in cols:
            lines.append(thin_v(x0 + c, y0, y0 + 80))
        page = PageModel(
            words=[word(105, 115, "merged", w=40, h=12)], line_rects=lines
        )
        xhtml = render_page(page)
        assert xhtml.count("merged") == 2  # rendered in both covered rows


class TestTextConsolidation:
    def test_words_on_line_joined(self):
        words = [word(0, 0, "Hello", w=30), word(33, 0, "World", w=30)]
        page = PageModel(words=words, line_rects=[])
        xhtml = render_page(page)
        assert "<p>Hello World</p>" in xhtml

    def test_column_lines_joined_with_br(self):
        words = [
            word(0, 0, "first line of col", w=100, h=10),
            word(0, 11, "second line", w=100, h=10),
        ]
        xhtml = render_page(PageModel(words=words, line_rects=[]))
        assert "<p>first line of col<br/>second line</p>" in xhtml

    def test_separate_columns_not_joined(self):
        words = [
            word(0, 0, "left col", w=80, h=10),
            word(300, 0, "right col", w=80, h=10),
        ]
        xhtml = render_page(PageModel(words=words, line_rects=[]))
        assert "<p>left col</p>" in xhtml and "<p>right col</p>" in xhtml

    def test_page_div_wrapper(self):
        xhtml = render_page(PageModel(words=[], line_rects=[], page_no=2))
        assert xhtml.startswith('<div class="page" pageno="3">')
        assert xhtml.rstrip().endswith("</div>")


class TestAdapter:
    def test_stdlib_fallback_decodes_without_pymupdf(self):
        """Without PyMuPDF the stdlib text-layer parser takes over: a
        generated table PDF flows end-to-end to XHTML; garbage PDF bytes
        raise ValueError (→ error row), never NotImplementedError."""
        try:
            import fitz  # noqa: F401

            pytest.skip("PyMuPDF available; fallback not exercised here")
        except ImportError:
            pass
        from fixture_writers import make_table_pdf

        cells = [["a", "b", "c"], ["d", "e", "f"], ["g", "h", "i"]]
        xhtml = pdf_bytes_to_xhtml(make_table_pdf(cells))
        assert "<table>" in xhtml and "<td><p>e</p>" in xhtml
        with pytest.raises(ValueError):
            pdf_bytes_to_xhtml(b"%PDF-1.4 fake")
