"""Word 97-2003 binary ``.doc`` → XHTML text, pure stdlib ([MS-DOC]).

The last Office container family from the reference's transparent Tika
acceptance (runner.py:36-115) without a reader here. Built on
:mod:`.cfb`: the FIB in the ``WordDocument`` stream locates the CLX in
the ``0Table``/``1Table`` stream (fWhichTblStm), whose piece table
(PlcPcd) maps every CP run to either 8-bit cp1252 ("fCompressed", fc
bit 30, byte offset fc/2) or UTF-16LE bytes back in the WordDocument
stream. The first ``ccpText`` CPs are the main document text.

Canonical render: ``\\r`` / 0x07 (cell & row marks) / 0x0C end a
paragraph → ``<p>``; 0x0B renders as LF inside the paragraph; fields
(0x13 instruction 0x14 result 0x15) keep only the result; object
markers / references (0x01, 0x05, 0x08) drop; non-breaking and soft
hyphens normalize. Table STRUCTURE is intentionally not reconstructed
— cell runs become separate paragraphs (recovering rows needs the
paragraph-property plexes; documented simplification, tested).

Encrypted documents (FibBase fEncrypted) raise ``ValueError`` and land
as per-row error rows like every other unsupported input.
"""

from __future__ import annotations

import struct
from typing import List

from . import xhtml as X
from .cfb import CfbReader

__all__ = ["doc_to_xhtml_text", "extract_doc_text"]

_FC_COMPRESSED = 0x40000000


def extract_doc_text(data: bytes, reader: CfbReader = None) -> str:
    """.doc container bytes → raw main-document text (control chars
    still present; use :func:`doc_to_xhtml_text` for the render)."""
    r = reader or CfbReader(data)
    word = r.streams.get("WordDocument")
    if word is None:
        names = ", ".join(sorted(r.streams)) or "none"
        raise ValueError(
            f"OLE2 container has no WordDocument stream (members: {names})"
        )
    if len(word) < 898:
        raise ValueError("WordDocument stream shorter than a Word-97 FIB")
    (ident,) = struct.unpack("<H", word[0:2])
    if ident != 0xA5EC:
        raise ValueError(f"bad FIB wIdent 0x{ident:04x}")
    (flags,) = struct.unpack("<H", word[10:12])
    if flags & 0x0100:
        raise ValueError("encrypted .doc is unsupported")
    table_name = "1Table" if flags & 0x0200 else "0Table"
    table = r.streams.get(table_name)
    if table is None:
        raise ValueError(f".doc FIB points at missing {table_name} stream")
    (ccp_text,) = struct.unpack("<i", word[76:80])
    fc_clx, lcb_clx = struct.unpack("<II", word[418:426])
    if lcb_clx == 0 or fc_clx + lcb_clx > len(table):
        raise ValueError(".doc CLX out of table-stream range")
    clx = table[fc_clx : fc_clx + lcb_clx]

    # walk Prcs until the Pcdt
    pos = 0
    while pos < len(clx) and clx[pos] == 0x01:
        (cb,) = struct.unpack("<h", clx[pos + 1 : pos + 3])
        pos += 3 + cb
    if pos >= len(clx) or clx[pos] != 0x02:
        raise ValueError(".doc CLX has no piece table (Pcdt)")
    (lcb,) = struct.unpack("<I", clx[pos + 1 : pos + 5])
    plc = clx[pos + 5 : pos + 5 + lcb]
    if len(plc) != lcb or (lcb - 4) % 12:
        raise ValueError(".doc PlcPcd malformed")
    n = (lcb - 4) // 12
    cps = struct.unpack(f"<{n + 1}i", plc[: 4 * (n + 1)])
    parts: List[str] = []
    for i in range(n):
        pcd = plc[4 * (n + 1) + 8 * i : 4 * (n + 1) + 8 * (i + 1)]
        (fc_raw,) = struct.unpack("<I", pcd[2:6])
        count = cps[i + 1] - cps[i]
        if count < 0:
            raise ValueError(".doc piece CPs not ascending")
        if fc_raw & _FC_COMPRESSED:
            off = (fc_raw & 0x3FFFFFFF) >> 1
            raw = word[off : off + count]
            if len(raw) < count:
                raise ValueError(".doc compressed piece out of range")
            parts.append(raw.decode("cp1252", "replace"))
        else:
            raw = word[fc_raw : fc_raw + 2 * count]
            if len(raw) < 2 * count:
                raise ValueError(".doc unicode piece out of range")
            parts.append(raw.decode("utf-16-le", "replace"))
    text = "".join(parts)
    if 0 <= ccp_text:
        # ccpText counts UTF-16 CODE UNITS (a non-BMP char is two CPs)
        # — truncate in units, tolerating a split surrogate pair
        enc = text.encode("utf-16-le", "surrogatepass")[: 2 * ccp_text]
        text = enc.decode("utf-16-le", "ignore")
    return text


def doc_to_xhtml_text(data: bytes, reader: CfbReader = None) -> str:
    """.doc bytes → canonical XHTML (see module docstring)."""
    raw = extract_doc_text(data, reader)
    body: List[str] = []
    buf: List[str] = []
    in_field_instr = False

    def flush() -> None:
        t = "".join(buf)
        buf.clear()
        if t.strip():
            body.append(X.paragraph(t))

    for ch in raw:
        o = ord(ch)
        if o == 0x13:  # field begin → instruction text until 0x14/0x15
            in_field_instr = True
        elif o == 0x14:  # separator → result text follows, keep it
            in_field_instr = False
        elif o == 0x15:  # field end
            in_field_instr = False
        elif in_field_instr:
            continue
        elif o in (0x0D, 0x07, 0x0C):  # para mark / cell-row mark / break
            flush()
        elif o == 0x0B:
            buf.append("\n")
        elif o in (0x01, 0x05, 0x08):  # object/annotation/drawing marks
            continue
        elif o == 0x1E:
            buf.append("‑")  # non-breaking hyphen
        elif o == 0x1F:
            continue  # soft hyphen: zero-width
        elif o >= 0x20 or ch in "\t":
            buf.append(ch)
    flush()
    return X.document(body)
