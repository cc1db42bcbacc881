"""RTF → XHTML text, pure stdlib (tokenizer over the control stream).

Extends the Office branch to the ``{\\rtf`` container the reference's
Tika path accepted transparently (runner.py:36-115). Same contract as
the docx/xlsx/pptx extractors: a deterministic canonical XHTML render
written through :mod:`.xhtml`, no external parser, per-row error
isolation in ``extract_text``.

Canonical render (gate-checked byte-exactly):

* plain paragraphs (``\\par``-delimited) → ``<p>``;
* table rows (``\\trowd`` … ``\\cell`` … ``\\row``) → one ``<table>``
  per maximal run of consecutive rows, cells as ``<td>``;
* ``\\tab`` → TAB, ``\\line`` → LF inside the paragraph text;
* ``\\'hh`` bytes decode via cp1252, ``\\uN`` decodes the UTF-16 code
  unit (negative N + 65536) and skips the ``\\ucN``-scoped fallback;
* ``{\\*…}`` destinations and the standard non-content destinations
  (fonttbl, colortbl, stylesheet, info, pict, …) contribute nothing;
* ``\\binN`` raw-byte runs are skipped byte-accurately.

The subset is the text layer a KG workflow matches against; formatting
control words (``\\b``, ``\\fs24``, …) are consumed and ignored, as
Tika's plain-text handler does.
"""

from __future__ import annotations

import re
from typing import List

from . import xhtml as X

__all__ = ["rtf_to_xhtml_text"]

# one token: control word (letters + optional signed parameter + one
# optional trailing space), control symbol, group delimiter, or a run
# of plain text
_TOKEN = re.compile(
    rb"\\([a-z]+)(-?\d+)? ?"  # control word
    rb"|\\'([0-9a-fA-F]{2})"  # hex escape
    rb"|\\(.)"  # control symbol (incl. \{ \} \\)
    rb"|([{}])"  # group open/close
    rb"|([^\\{}]+)",  # plain text run
    re.S,
)

# destinations whose content is metadata, not document text (RTF 1.9
# spec destination list — the subset that appears in real documents)
_SKIP_DESTS = frozenset(
    {
        "fonttbl",
        "colortbl",
        "stylesheet",
        "info",
        "pict",
        "object",
        "header",
        "footer",
        "headerl",
        "headerr",
        "headerf",
        "footerl",
        "footerr",
        "footerf",
        "footnote",
        "ftnsep",
        "ftnsepc",
        "aftnsep",
        "aftnsepc",
        "xe",
        "tc",
        "bkmkstart",
        "bkmkend",
        "field",  # field instruction; \fldrslt would need field support
        "themedata",
        "colorschememapping",
        "datastore",
        "latentstyles",
        "listtable",
        "listoverridetable",
        "revtbl",
        "generator",
        "filetbl",
    }
)

# control symbols / words that expand to literal characters
_CHAR_WORDS = {
    "par": "\n\x00PAR\x00",  # handled structurally below, never emitted
    "tab": "\t",
    "line": "\n",
    "emdash": "\u2014",
    "endash": "\u2013",
    "lquote": "\u2018",
    "rquote": "\u2019",
    "ldblquote": "\u201c",
    "rdblquote": "\u201d",
    "bullet": "\u2022",
    "enspace": "\u2002",
    "emspace": "\u2003",
}


# unpaired \uN surrogate halves — not representable downstream
_SURROGATE = re.compile("[\ud800-\udfff]")


def rtf_to_xhtml_text(data: bytes) -> str:
    """RTF bytes → canonical XHTML (see module docstring)."""
    if not data.startswith(b"{\\rtf"):
        raise ValueError("not an RTF document (missing {\\rtf header)")

    body: List[str] = []  # rendered <p>/<table> blocks
    rows: List[List[str]] = []  # pending table rows
    cells: List[str] = []  # pending cells of the current row
    buf: List[str] = []  # current paragraph / cell text
    in_row = False

    def flush_table() -> None:
        if rows:
            body.append(X.table(rows))
            rows.clear()

    def flush_para() -> None:
        flush_table()
        text = "".join(buf)
        buf.clear()
        if text.strip():
            body.append(X.paragraph(text))

    depth = 0
    skip_until = None  # group depth at which a skipped destination ends
    uc = 1  # current \ucN fallback length
    uc_stack: List[int] = []
    pending_skip = 0  # fallback chars to swallow after \uN
    pos = 0
    n = len(data)
    while pos < n:
        m = _TOKEN.match(data, pos)
        if m is None:  # cannot happen: the alternation covers every byte
            raise ValueError(f"RTF tokenizer stalled at byte {pos}")
        pos = m.end()
        word, param, hexb, sym, grp, text = m.groups()

        if grp == b"{":
            depth += 1
            uc_stack.append(uc)
            continue
        if grp == b"}":
            if depth == 0:
                break  # closing the document group
            depth -= 1
            if uc_stack:
                uc = uc_stack.pop()
            if skip_until is not None and depth < skip_until:
                skip_until = None
            continue

        if skip_until is not None:
            # inside a skipped destination — consume, emit nothing
            # (\binN still must advance byte-accurately)
            if word == b"bin" and param:
                pos += max(0, int(param))
            continue

        if sym is not None:
            ch = sym.decode("latin-1")
            if ch == "*":
                # {\*\dest …} — unknown destination: skip the group
                skip_until = depth
            elif ch in "{}\\":
                if pending_skip:
                    pending_skip -= 1
                else:
                    buf.append(ch)
            elif ch == "~":
                buf.append("\u00a0")
            elif ch == "_":
                buf.append("\u2011")
            elif ch == "-":
                pass  # optional hyphen: zero-width
            # other control symbols (\: etc.) are formatting — ignored
            continue

        if hexb is not None:
            if pending_skip:
                pending_skip -= 1
            else:
                buf.append(bytes([int(hexb, 16)]).decode("cp1252", "replace"))
            continue

        if word is not None:
            w = word.decode("ascii")
            if w in _SKIP_DESTS:
                skip_until = depth
            elif w == "bin":
                pos += max(0, int(param or 0))
            elif w == "uc":
                uc = int(param or 1)
            elif w == "u":
                cp = int(param or 0)
                if cp < 0:
                    cp += 65536
                # Word writes non-BMP chars as a \uHI\uLO surrogate
                # pair — recombine, never leave a lone surrogate
                if (
                    0xDC00 <= cp < 0xE000
                    and buf
                    and len(buf[-1]) == 1
                    and 0xD800 <= ord(buf[-1]) < 0xDC00
                ):
                    hi = ord(buf[-1])
                    buf[-1] = chr(
                        0x10000 + ((hi - 0xD800) << 10) + (cp - 0xDC00)
                    )
                elif 0xD800 <= cp < 0xE000 and not (0xD800 <= cp < 0xDC00):
                    buf.append("�")  # lone low surrogate
                else:
                    buf.append(chr(cp))
                pending_skip = uc
            elif w == "par":
                if in_row or cells:
                    buf.append("\n")  # paragraph break inside a cell
                else:
                    flush_para()
            elif w == "trowd":
                if not in_row:
                    # text before the first row of a table block
                    if any(s.strip() for s in buf):
                        flush_para()
                    else:
                        buf.clear()
                in_row = True
            elif w == "cell":
                cells.append("".join(buf))
                buf.clear()
            elif w == "row":
                rows.append(cells[:])
                cells.clear()
                in_row = False
            elif w in _CHAR_WORDS and w != "par":
                buf.append(_CHAR_WORDS[w])
            # every other control word is formatting — consumed, ignored
            continue

        if text is not None:
            s = text.decode("cp1252", "replace").replace("\r", "").replace(
                "\n", ""
            )
            if pending_skip:
                take = min(pending_skip, len(s))
                pending_skip -= take
                s = s[take:]
            if s:
                buf.append(s)

    # trailing content without a final \par / \row
    if cells or (buf and in_row):
        if buf:
            cells.append("".join(buf))
            buf.clear()
        rows.append(cells[:])
        cells.clear()
    flush_para()
    return _SURROGATE.sub("\ufffd", X.document(body))
