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

The fixture writers (:func:`make_xlsx` / :func:`make_pptx`) emit the
exact subset the readers consume, with pinned zip metadata so fixture
bytes are reproducible across hosts and rounds.
"""

from __future__ import annotations

import html as _html
import io
import re
import zipfile
from typing import Dict, List, Optional, Sequence, Tuple, Union

__all__ = [
    "xlsx_to_xhtml_text",
    "pptx_to_xhtml_text",
    "make_xlsx",
    "make_pptx",
]

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


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


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
            parts.append(f"<h1>{_esc(name)}</h1>")
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
                    "<tr>" + "".join(f"<td>{_esc(v)}</td>" for v in cells) + "</tr>"
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
                        body.append(f"<p>{_esc(t)}</p>")
                rows = []
                for tr in _A_TR.finditer(tbl.group(0)):
                    cells = [
                        f"<td>{_esc(_a_paragraph_text(tc.group(0)))}</td>"
                        for tc in _A_TC.finditer(tr.group(0))
                    ]
                    rows.append("<tr>" + "".join(cells) + "</tr>")
                body.append("<table>" + "".join(rows) + "</table>")
                pos = tbl.end()
            for p in _A_P.finditer(xml, pos):
                t = _a_paragraph_text(p.group(0))
                if t:
                    body.append(f"<p>{_esc(t)}</p>")
            parts.append('<div class="slide">' + "".join(body) + "</div>")
    return "<html><body>" + "".join(parts) + "</body></html>"


# ---------------------------------------------------------------------------
# Deterministic fixture writers (gate corpora — they emit exactly the
# subset the readers above consume)

_ZIP_DATE = (1980, 1, 1, 0, 0, 0)


def _write_zip(members: Sequence[Tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in members:
            zi = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
            zi.compress_type = zipfile.ZIP_DEFLATED
            zi.external_attr = 0o600 << 16
            z.writestr(zi, payload)
    return buf.getvalue()


def _xml_esc(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


Cell = Union[str, int, float, None]


def make_xlsx(sheets: Sequence[Tuple[str, Sequence[Sequence[Cell]]]]) -> bytes:
    """Workbook bytes from [(sheet_name, rows)]; string cells go through
    sharedStrings, numbers stay numeric, ``None`` leaves a column gap
    (the cell is simply absent and the NEXT cell carries an explicit
    ``r=`` reference — exercising the reader's gap filling)."""
    shared: List[str] = []
    shared_idx: Dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    def col_letters(i: int) -> str:
        out = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            out = chr(65 + r) + out
        return out

    sheet_xmls: List[bytes] = []
    for _, rows in sheets:
        row_parts: List[str] = []
        for rno, row in enumerate(rows, start=1):
            cell_parts: List[str] = []
            for cno, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{col_letters(cno)}{rno}"
                if isinstance(v, str):
                    cell_parts.append(
                        f'<c r="{ref}" t="s"><v>{sref(v)}</v></c>'
                    )
                else:
                    cell_parts.append(f'<c r="{ref}"><v>{v}</v></c>')
            row_parts.append(f'<row r="{rno}">' + "".join(cell_parts) + "</row>")
        sheet_xmls.append(
            (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                "<worksheet><sheetData>"
                + "".join(row_parts)
                + "</sheetData></worksheet>"
            ).encode("utf-8")
        )

    wb_sheets = "".join(
        f'<sheet name="{_xml_esc(name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _) in enumerate(sheets)
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    sst = "".join(f"<si><t>{_xml_esc(s)}</t></si>" for s in shared)
    members: List[Tuple[str, bytes]] = [
        (
            "[Content_Types].xml",
            b'<?xml version="1.0"?><Types '
            b'xmlns="http://schemas.openxmlformats.org/package/2006/'
            b'content-types"/>',
        ),
        (
            "xl/workbook.xml",
            (
                '<?xml version="1.0"?><workbook '
                'xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
                '2006/relationships">'
                f"<sheets>{wb_sheets}</sheets></workbook>"
            ).encode("utf-8"),
        ),
        (
            "xl/_rels/workbook.xml.rels",
            (
                '<?xml version="1.0"?><Relationships>' + rels + "</Relationships>"
            ).encode("utf-8"),
        ),
        (
            "xl/sharedStrings.xml",
            (
                f'<?xml version="1.0"?><sst count="{len(shared)}" '
                f'uniqueCount="{len(shared)}">{sst}</sst>'
            ).encode("utf-8"),
        ),
    ]
    for i, xml in enumerate(sheet_xmls):
        members.append((f"xl/worksheets/sheet{i + 1}.xml", xml))
    return _write_zip(members)


Slide = Sequence[Union[str, Sequence[Sequence[str]]]]


def make_pptx(slides: Sequence[Slide]) -> bytes:
    """Presentation bytes; each slide is a sequence of blocks — a string
    becomes one ``<a:p>`` paragraph, a nested list-of-rows becomes one
    ``<a:tbl>`` table."""

    def para(text: str) -> str:
        return f"<a:p><a:r><a:t>{_xml_esc(text)}</a:t></a:r></a:p>"

    slide_xmls: List[bytes] = []
    for blocks in slides:
        parts: List[str] = []
        for blk in blocks:
            if isinstance(blk, str):
                parts.append(para(blk))
            else:
                rows = "".join(
                    "<a:tr>"
                    + "".join(
                        f"<a:tc><a:txBody>{para(cell)}</a:txBody></a:tc>"
                        for cell in row
                    )
                    + "</a:tr>"
                    for row in blk
                )
                parts.append(f"<a:tbl>{rows}</a:tbl>")
        slide_xmls.append(
            (
                '<?xml version="1.0"?><p:sld '
                'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
                'xmlns:p="http://schemas.openxmlformats.org/presentationml/'
                '2006/main">'
                "<p:cSld><p:spTree><p:sp><p:txBody>"
                + "".join(parts)
                + "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
            ).encode("utf-8")
        )

    members: List[Tuple[str, bytes]] = [
        (
            "[Content_Types].xml",
            b'<?xml version="1.0"?><Types '
            b'xmlns="http://schemas.openxmlformats.org/package/2006/'
            b'content-types"/>',
        ),
        (
            "ppt/presentation.xml",
            b'<?xml version="1.0"?><p:presentation '
            b'xmlns:p="http://schemas.openxmlformats.org/presentationml/'
            b'2006/main"/>',
        ),
    ]
    for i, xml in enumerate(slide_xmls, start=1):
        members.append((f"ppt/slides/slide{i}.xml", xml))
    return _write_zip(members)
