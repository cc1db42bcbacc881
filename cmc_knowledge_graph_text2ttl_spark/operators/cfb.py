"""Compound File Binary (OLE2) container — pure-stdlib reader.

The storage layer under every legacy Office format (.doc/.xls/.ppt),
[MS-CFB]. The reader walks the DIFAT → FAT → directory chain and
serves streams from either the FAT (≥ cutoff, 512-byte sectors) or the
mini FAT (< cutoff, 64-byte minisectors inside the root's ministream).
The fixture writer lives in the repo-root ``fixture_writers.py``.

Used by :mod:`.doc_binary` for Word 97-2003 text extraction; no
reference counterpart (the reference's Tika path consumed these
transparently, runner.py:36-115).
"""

from __future__ import annotations

import struct
from typing import Dict, List

__all__ = ["CfbReader"]

_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREE = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD


class CfbReader:
    """Parse an OLE2 container; ``streams`` maps name → bytes.

    Storage nesting is flattened: entries are keyed by name alone
    (Word's WordDocument/0Table/1Table all live in the root storage,
    which is the only layout this consumer needs; a name collision
    across storages keeps the first entry).
    """

    def __init__(self, data: bytes) -> None:
        if data[:8] != _MAGIC:
            raise ValueError("not an OLE2 compound file")
        (
            major,
            _order,
            ssz,
            mssz,
        ) = struct.unpack("<H H H H", data[26:34])
        if ssz not in (9, 12) or (1 << ssz) > len(data):
            raise ValueError(f"CFB bad sector shift {ssz}")
        self._sect = 1 << ssz
        self._mini = 1 << mssz
        (n_fat,) = struct.unpack("<I", data[44:48])
        (first_dir,) = struct.unpack("<I", data[48:52])
        (self._cutoff,) = struct.unpack("<I", data[56:60])
        (first_minifat,) = struct.unpack("<I", data[60:64])
        (n_minifat,) = struct.unpack("<I", data[64:68])
        (first_difat,) = struct.unpack("<I", data[68:72])
        (n_difat,) = struct.unpack("<I", data[72:76])
        self._data = data

        difat = list(struct.unpack("<109I", data[76:512]))
        sec = first_difat
        for _ in range(n_difat):
            if sec >= _FATSECT:
                break
            body = self._sector(sec)
            more = struct.unpack(f"<{self._sect // 4}I", body)
            difat.extend(more[:-1])
            sec = more[-1]
        fat_sectors = [s for s in difat if s != _FREE][:n_fat]
        fat: List[int] = []
        for s in fat_sectors:
            fat.extend(struct.unpack(f"<{self._sect // 4}I", self._sector(s)))
        self._fat = fat

        dir_data = self._read_chain(first_dir)
        self.streams: Dict[str, bytes] = {}
        root_start = root_size = None
        entries = []
        for off in range(0, len(dir_data), 128):
            e = dir_data[off : off + 128]
            if len(e) < 128:
                break
            (nlen,) = struct.unpack("<H", e[64:66])
            if not 2 <= nlen <= 64:
                continue
            name = e[: nlen - 2].decode("utf-16-le", "replace")
            otype = e[66]
            (start,) = struct.unpack("<I", e[116:120])
            (size,) = struct.unpack("<Q", e[120:128])
            if otype == 5:  # root: its chain is the ministream
                root_start, root_size = start, size
            elif otype == 2:
                entries.append((name, start, size))

        minifat: List[int] = []
        if n_minifat:
            mf = self._read_chain(first_minifat)
            minifat = list(struct.unpack(f"<{len(mf) // 4}I", mf))
        ministream = (
            self._read_chain(root_start)[:root_size]
            if root_start is not None and root_start != _ENDOFCHAIN
            else b""
        )

        for name, start, size in entries:
            if size >= self._cutoff:
                self.streams.setdefault(name, self._read_chain(start)[:size])
            else:
                out = bytearray()
                sec = start
                guard = 0
                while sec < _FATSECT and size > len(out):
                    off = sec * self._mini
                    out += ministream[off : off + self._mini]
                    if sec >= len(minifat):
                        raise ValueError("CFB mini chain out of range")
                    sec = minifat[sec]
                    guard += 1
                    if guard > len(minifat) + 1:
                        raise ValueError("CFB mini chain cycle")
                self.streams.setdefault(name, bytes(out[:size]))

    def _sector(self, n: int) -> bytes:
        off = (n + 1) * self._sect
        body = self._data[off : off + self._sect]
        if len(body) < self._sect:
            raise ValueError(f"CFB sector {n} out of range")
        return body

    def _read_chain(self, start: int) -> bytes:
        out = bytearray()
        sec = start
        guard = 0
        while sec < _FATSECT:
            out += self._sector(sec)
            if sec >= len(self._fat):
                raise ValueError("CFB FAT chain out of range")
            sec = self._fat[sec]
            guard += 1
            if guard > len(self._fat) + 1:
                raise ValueError("CFB FAT chain cycle")
        return bytes(out)
