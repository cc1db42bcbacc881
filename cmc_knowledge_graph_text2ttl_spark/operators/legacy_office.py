"""Legacy binary Excel (.xls, BIFF8) and PowerPoint (.ppt) → XHTML.

Rounds out the OLE2 branch of the reference's transparent Tika
acceptance (runner.py:36-115) on top of :mod:`.cfb`. Subset per format:

* **.xls** — the ``Workbook`` stream's BIFF8 record chain: BOUNDSHEET
  names + stream positions, the shared-string table (SST with
  CONTINUE-split XLUnicodeStrings, re-reading the compression flag at
  each continuation per [MS-XLS] 2.5.293), and per-sheet LABELSST /
  LABEL / NUMBER / RK / MULRK / BOOLERR cells. Rendered exactly like
  the xlsx reader: ``<h1>`` per sheet (BOUNDSHEET order) + ``<table>``
  with column gaps filled. Numbers render via :func:`_num` (integers
  lose the ``.0``) — the same lexical form the fixture oracle states.
* **.ppt** — the ``PowerPoint Document`` stream's record tree:
  containers (recVer 0xF) recurse; TextCharsAtom (UTF-16LE) /
  TextBytesAtom (cp1252) / CString leaves collect in stream order,
  one ``<p>`` per ``\\r``-separated line, mirroring the flat-paragraph
  shape Tika emits for binary ppt. Slide grouping is intentionally
  not reconstructed (needs the full persist-directory walk).

Both raise ``ValueError`` on malformed input — contained per-row by
``extract_text`` like every other format.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Tuple

from . import xhtml as X
from .cfb import CfbReader

__all__ = ["xls_to_xhtml_text", "ppt_to_xhtml_text"]


def _num(v: float) -> str:
    """Deterministic lexical form: integral doubles drop the '.0'."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


# ---------------------------------------------------------------------------
# BIFF8 (.xls)

_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_CONTINUE = 0x003C
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205


def _records(data: bytes, start: int = 0):
    pos = start
    while pos + 4 <= len(data):
        rid, ln = struct.unpack_from("<HH", data, pos)
        body = data[pos + 4 : pos + 4 + ln]
        if len(body) < ln:
            raise ValueError("BIFF record truncated")
        yield rid, body, pos
        pos += 4 + ln


def _rk_value(rk: int) -> float:
    # [MS-XLS] 2.5.276 RkNumber: bit 0 = fX100 (divide by 100),
    # bit 1 = fInt (payload is a 30-bit signed integer, else the high
    # 30 bits of an IEEE double). Matches xlrd and real Excel output —
    # an earlier revision had the two flag bits swapped.
    cents = rk & 0x01
    if rk & 0x02:  # fInt: 30-bit signed integer payload
        v30 = rk >> 2
        v = float(v30 - (1 << 30) if v30 >= (1 << 29) else v30)
    else:  # high 30 bits of an IEEE double
        v = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return v / 100.0 if cents else v


class _SstReader:
    """XLUnicodeString reader over SST + CONTINUE bodies. A string may
    split across records; each continuation restarts with its own
    fHighByte flag byte, so compression can flip mid-string."""

    def __init__(self, chunks: List[bytes]) -> None:
        self._chunks = chunks
        self._ci = 0
        self._pos = 0

    def _ensure(self) -> None:
        while self._ci < len(self._chunks) and self._pos >= len(
            self._chunks[self._ci]
        ):
            self._ci += 1
            self._pos = 0

    def take(self, n: int) -> bytes:
        """n raw bytes, spanning chunk boundaries WITHOUT flag re-read
        (used for headers and rich/ext payloads)."""
        out = bytearray()
        while n:
            self._ensure()
            if self._ci >= len(self._chunks):
                raise ValueError("SST truncated")
            chunk = self._chunks[self._ci]
            got = chunk[self._pos : self._pos + n]
            out += got
            self._pos += len(got)
            n -= len(got)
        return bytes(out)

    def chars(self, cch: int, high: bool) -> str:
        """cch characters honouring per-continuation flag bytes."""
        out: List[str] = []
        header_ci = self._ci  # chunk the string HEADER ended in
        while cch:
            self._ensure()
            if self._ci >= len(self._chunks):
                raise ValueError("SST string truncated")
            chunk = self._chunks[self._ci]
            if self._pos == 0 and (out or self._ci != header_ci):
                # char data crossed a CONTINUE boundary (including the
                # header-ends-exactly-at-record-end case, where zero
                # chars precede the boundary): fresh fHighByte flag
                high = bool(chunk[0] & 0x01)
                self._pos = 1
            avail = len(chunk) - self._pos
            width = 2 if high else 1
            take_n = min(cch, avail // width)
            if take_n == 0:
                if avail:
                    raise ValueError("SST char split across a byte pair")
                self._ci += 1
                self._pos = 0
                continue
            raw = chunk[self._pos : self._pos + take_n * width]
            out.append(
                raw.decode("utf-16-le" if high else "latin-1", "replace")
            )
            self._pos += take_n * width
            cch -= take_n
        return "".join(out)

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.take(2))[0]
        grbit = self.take(1)[0]
        high = bool(grbit & 0x01)
        crun = struct.unpack("<H", self.take(2))[0] if grbit & 0x08 else 0
        cbext = struct.unpack("<i", self.take(4))[0] if grbit & 0x04 else 0
        s = self.chars(cch, high)
        if crun:
            self.take(4 * crun)
        if cbext:
            self.take(cbext)
        return s


def _short_xl_string(body: bytes, off: int) -> str:
    """ShortXLUnicodeString (8-bit length) — BOUNDSHEET names."""
    cch = body[off]
    high = body[off + 1] & 0x01
    if high:
        return body[off + 2 : off + 2 + 2 * cch].decode("utf-16-le", "replace")
    return body[off + 2 : off + 2 + cch].decode("latin-1", "replace")


def xls_to_xhtml_text(data: bytes, reader: CfbReader = None) -> str:
    """.xls container bytes → canonical XHTML (module docstring)."""
    r = reader or CfbReader(data)
    wb = r.streams.get("Workbook") or r.streams.get("Book")
    if wb is None:
        names = ", ".join(sorted(r.streams)) or "none"
        raise ValueError(
            f"OLE2 container has no Workbook stream (members: {names})"
        )
    sheets: List[Tuple[str, int]] = []  # (name, stream offset)
    shared: List[str] = []
    sst_parts: List[bytes] = []
    n_strings = 0
    collecting_sst = False
    for rid, body, _pos in _records(wb):
        if rid == _BOUNDSHEET:
            (lb_pos,) = struct.unpack_from("<I", body, 0)
            sheets.append((_short_xl_string(body, 6), lb_pos))
            collecting_sst = False
        elif rid == _SST:
            n_strings = struct.unpack_from("<i", body, 4)[0]
            sst_parts = [body[8:]]
            collecting_sst = True
        elif rid == _CONTINUE and collecting_sst:
            sst_parts.append(body)
        elif rid == _EOF:
            break
        else:
            collecting_sst = False
    if sst_parts:
        sr = _SstReader(sst_parts)
        shared = [sr.read_string() for _ in range(max(0, n_strings))]

    parts: List[str] = []
    for name, lb_pos in sheets:
        cells: Dict[int, Dict[int, str]] = {}

        def put(rw: int, col: int, val: str) -> None:
            cells.setdefault(rw, {})[col] = val

        for rid, body, _pos in _records(wb, lb_pos):
            if rid == _EOF:
                break
            if rid == _LABELSST:
                rw, col, _ixfe, isst = struct.unpack_from("<HHHI", body, 0)
                if not 0 <= isst < len(shared):
                    raise ValueError(f"xls SST index {isst} out of range")
                put(rw, col, shared[isst])
            elif rid == _LABEL:
                rw, col = struct.unpack_from("<HH", body, 0)
                cch, grbit = struct.unpack_from("<HB", body, 6)
                if grbit & 0x01:
                    put(rw, col, body[9 : 9 + 2 * cch].decode("utf-16-le"))
                else:
                    put(rw, col, body[9 : 9 + cch].decode("latin-1"))
            elif rid == _NUMBER:
                rw, col = struct.unpack_from("<HH", body, 0)
                (v,) = struct.unpack_from("<d", body, 6)
                put(rw, col, _num(v))
            elif rid == _RK:
                rw, col = struct.unpack_from("<HH", body, 0)
                (rk,) = struct.unpack_from("<I", body, 6)
                put(rw, col, _num(_rk_value(rk)))
            elif rid == _MULRK:
                rw, col_first = struct.unpack_from("<HH", body, 0)
                n = (len(body) - 6) // 6
                for k in range(n):
                    (rk,) = struct.unpack_from("<I", body, 4 + 6 * k + 2)
                    put(rw, col_first + k, _num(_rk_value(rk)))
            elif rid == _BOOLERR:
                rw, col = struct.unpack_from("<HH", body, 0)
                v, is_err = body[6], body[7]
                if not is_err:
                    put(rw, col, "TRUE" if v else "FALSE")
        rows = [
            [cells[rw].get(c, "") for c in range(max(cells[rw]) + 1)]
            for rw in sorted(cells)
        ]
        parts += [X.heading(1, name), X.table(rows)]
    return X.document(parts)


# ---------------------------------------------------------------------------
# binary PowerPoint (.ppt)

_TEXTCHARS = 0x0FA0
_TEXTBYTES = 0x0FA8
_CSTRING = 0x0FBA


def _ppt_walk(data: bytes, out: List[str]) -> None:
    pos = 0
    while pos + 8 <= len(data):
        verinst, rtype, rlen = struct.unpack_from("<HHI", data, pos)
        body = data[pos + 8 : pos + 8 + rlen]
        if len(body) < rlen:
            raise ValueError("ppt record truncated")
        if verinst & 0x000F == 0x000F:  # container
            _ppt_walk(body, out)
        elif rtype in (_TEXTCHARS, _CSTRING):
            out.append(body.decode("utf-16-le", "replace"))
        elif rtype == _TEXTBYTES:
            out.append(body.decode("cp1252", "replace"))
        pos += 8 + rlen


def ppt_to_xhtml_text(data: bytes, reader: CfbReader = None) -> str:
    """.ppt container bytes → canonical XHTML (module docstring)."""
    r = reader or CfbReader(data)
    doc = r.streams.get("PowerPoint Document")
    if doc is None:
        names = ", ".join(sorted(r.streams)) or "none"
        raise ValueError(
            "OLE2 container has no PowerPoint Document stream "
            f"(members: {names})"
        )
    atoms: List[str] = []
    _ppt_walk(doc, atoms)
    body: List[str] = []
    for atom in atoms:
        for line in atom.replace("\x0b", "\n").split("\r"):
            if line.strip():
                body.append(X.paragraph(line))
    return X.document(body)
