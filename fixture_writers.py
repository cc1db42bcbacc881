"""Deterministic writers for every test and registry fixture input.

The package ``cmc_knowledge_graph_text2ttl_spark`` holds the readers;
this module holds the other direction: the document writers (table
PDFs, OLE2 ``.doc``/``.xls``/``.ppt``, OOXML ``.docx``/``.xlsx``/``.pptx``,
ODF, RTF), the tar/zip and WARC container writers, and the image, audio
and video encoders that build test inputs.
``__spark_entry__``'s data synthesis and the tests import it; the
package never does, so none of it ships in the ``--py-files`` zip.
``tests/test_reachability.py`` keeps writers out of the package.

Each writer emits exactly the subset its reader consumes, with pinned
metadata (zip dates, sector order, caller-supplied IVs and salts), so
the bytes are the same on every host.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import random
import re
import struct
import tarfile
import zipfile
import zlib
from typing import Any, Dict, Iterable, Iterator, List, Optional, Sequence, Tuple, Union

import yaml

from cmc_knowledge_graph_text2ttl_spark.operators.cfb import (
    _ENDOFCHAIN,
    _FATSECT,
    _FREE,
    _MAGIC,
)
from cmc_knowledge_graph_text2ttl_spark.operators.doc_binary import _FC_COMPRESSED
from cmc_knowledge_graph_text2ttl_spark.operators.flac import (
    _FIXED_COEFS,
    _crc8,
    _crc16,
)
from cmc_knowledge_graph_text2ttl_spark.operators.jpeg import ZIGZAG, _build_huffman
from cmc_knowledge_graph_text2ttl_spark.operators.legacy_office import (
    _BOOLERR,
    _BOUNDSHEET,
    _CONTINUE,
    _EOF,
    _LABELSST,
    _NUMBER,
    _RK,
    _SST,
    _TEXTBYTES,
    _TEXTCHARS,
)
from cmc_knowledge_graph_text2ttl_spark.operators.multimodal import (
    _ADAM7,
    _ID3_TEXT_FRAMES,
    _MP3_BITRATES,
    _MP3_RATES,
    _gif_interlace_order,
    _png_chunk,
)
from cmc_knowledge_graph_text2ttl_spark.operators.pdf_textlayer import (
    _aes_cbc_raw,
    _aes_encrypt_words,
    _aes_expand_key,
    _hash_2b,
    _pad_password,
    _rc4,
    _std_file_key,
    _std_user_value,
)
from cmc_knowledge_graph_text2ttl_spark.operators.vp8l import (
    _CL_ORDER,
    _canonical_codes,
    _i8,
    _predict,
)


# ---------------------------------------------------------------------------
# PDF (operators/pdf_textlayer.py). Not a general producer: it emits
# exactly the subset the text-layer parser supports.


def _aes_encrypt_block(rk: List[bytes], block: bytes) -> bytes:
    rkw = [struct.unpack(">4I", k) for k in rk]
    return struct.pack(
        ">4I", *_aes_encrypt_words(rkw, *struct.unpack(">4I", block))
    )


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#7-padded CBC encrypt; returns iv + ciphertext (the PDF
    /AESV2 stream layout, §7.6.2)."""
    pad = 16 - len(data) % 16
    return iv + _aes_cbc_raw(key, iv, data + bytes([pad]) * pad, encrypt=True)


def _std_owner_value(owner_pw: bytes, user_pw: bytes, rev: int, n: int) -> bytes:
    """Algorithm 3: the /O entry."""
    key = hashlib.md5(_pad_password(owner_pw)).digest()
    if rev >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    rc4key = key[:n]
    o = _rc4(rc4key, _pad_password(user_pw))
    if rev >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in rc4key), o)
    return o


# make_table_pdf's fixed page and grid geometry, in PDF points
_PAGE_W, _PAGE_H = 612.0, 792.0
_X0, _Y_TOP = 100.0, 700.0
_COL_W, _ROW_H = 80.0, 20.0
_FONTSIZE = 10.0
_LINE_W = 0.8


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def make_table_pdf(
    cell_texts: List[List[str]],
    title: Optional[str] = None,
    compress: bool = False,
    objstm: bool = False,
    encrypt: bool = False,
) -> bytes:
    """One-page PDF with an optional title paragraph and a ruled table
    whose grid the geometric recognizer detects (4+ lines per axis).

    Deterministic for fixed inputs; ``compress=True`` Flate-encodes the
    content stream (both decode paths stay gate-testable).
    ``objstm=True`` emits the PDF 1.5 layout real generators default
    to: catalog/pages/page/font dicts packed into a Flate ``/ObjStm``
    (NO raw ``N 0 obj`` markers for them) and a ``/Type /XRef``
    cross-reference STREAM with PNG Up-predicted /W-packed entries —
    the file is only readable through the xref-stream + ObjStm path.
    ``encrypt=True`` (or ``"rc4"``; classic layout only) applies the
    Standard security handler, RC4-128 R3, empty user password, owner
    password "owner" — stream payloads RC4-encrypted with per-object
    keys, /O and /U computed per Algorithms 3/5, /ID derived from the
    content. ``encrypt="aesv2"`` emits the post-Acrobat-7 default
    instead: /V 4 /R 4 with an /AESV2 StdCF crypt filter, streams
    AES-128-CBC with a content-derived deterministic IV.
    """
    if encrypt and objstm:
        raise ValueError("encrypt fixture supports the classic layout only")
    if encrypt not in (False, True, "rc4", "aesv2", "aes256"):
        raise ValueError(
            f"encrypt must be bool, 'rc4', 'aesv2' or 'aes256', got {encrypt!r}"
        )
    n_rows = len(cell_texts)
    n_cols = len(cell_texts[0]) if n_rows else 0
    if n_rows < 3 or n_cols < 3:
        raise ValueError("recognizer needs >= 3x3 cells (4+ grid lines per axis)")
    ops: List[str] = []
    if title:
        ops.append(
            f"BT /F1 {_FONTSIZE:g} Tf {_X0:g} {_Y_TOP + 40:g} Td "
            f"({_pdf_escape(title)}) Tj ET"
        )
    # grid: (n_rows+1) horizontal, (n_cols+1) vertical thin filled rects
    x1 = _X0 + n_cols * _COL_W
    y_bot = _Y_TOP - n_rows * _ROW_H
    for r in range(n_rows + 1):
        yy = _Y_TOP - r * _ROW_H
        ops.append(f"{_X0:g} {yy - _LINE_W:g} {x1 - _X0:g} {_LINE_W:g} re f")
    for c in range(n_cols + 1):
        xx = _X0 + c * _COL_W
        ops.append(f"{xx:g} {y_bot - _LINE_W:g} {_LINE_W:g} {_Y_TOP - y_bot:g} re f")
    # one word block per cell, offset inside the cell
    for r, row in enumerate(cell_texts):
        for c, text in enumerate(row):
            if not text:
                continue
            tx = _X0 + c * _COL_W + 5
            ty = _Y_TOP - r * _ROW_H - _ROW_H / 2 - _FONTSIZE * 0.3
            ops.append(
                f"BT /F1 {_FONTSIZE:g} Tf {tx:g} {ty:g} Td "
                f"({_pdf_escape(text)}) Tj ET"
            )
    content = "\n".join(ops).encode("latin-1")
    if compress:
        stream = zlib.compress(content, 6)
        filt = " /Filter /FlateDecode"
    else:
        stream = content
        filt = ""

    objs: List[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [3 0 R] /Count 1 "
        f"/MediaBox [0 0 {_PAGE_W:g} {_PAGE_H:g}] >>".encode()
    )
    objs.append(
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>"
    )
    objs.append(
        f"<< /Length {len(stream)}{filt} >>\nstream\n".encode()
        + stream
        + b"\nendstream"
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    if objstm:
        return _assemble_pdf15(objs)

    trailer_extra = ""
    if encrypt == "aes256":
        # /V 5 /R 6 (ISO 32000-2): 48-byte /U = hash + vsalt + ksalt,
        # file key unwrapped from /UE; streams AES-256-CBC under the
        # file key directly (no per-object derivation). The file id,
        # key and IV are content-derived so the fixture stays
        # deterministic per document; the FOUR KDF salts are fixed
        # constants so the ~0.25 s Algorithm-2.B hash (the dominant
        # fixture cost at corpus scale — ~79k pure-Python AES blocks
        # per call) hits _hash_2b's lru_cache after the first document
        # on each worker. Extraction security is unaffected: the
        # per-document file key is still unique and still unwrapped
        # through the full /UE path.
        fid = hashlib.md5(b"kg-fixture-id:" + content).digest()
        file_key = hashlib.sha256(b"kg-aes256-key:" + content).digest()
        vsalt = b"kgvsalt0"
        ksalt = b"kgksalt0"
        u_val = _hash_2b(b"", vsalt) + vsalt + ksalt
        ue_val = _aes_cbc_raw(
            _hash_2b(b"", ksalt), b"\x00" * 16, file_key, encrypt=True
        )
        ovs = b"kgovsal0"
        oks = b"kgoksal0"
        o_val = _hash_2b(b"owner", ovs, u_val) + ovs + oks
        oe_val = _aes_cbc_raw(
            _hash_2b(b"owner", oks, u_val), b"\x00" * 16, file_key,
            encrypt=True,
        )
        p = -3904
        perms_blob = (
            struct.pack("<i", p) + b"\xff\xff\xff\xff" + b"Tadb"
            + hashlib.md5(content).digest()[:4]
        )
        perms = _aes_encrypt_block(_aes_expand_key(file_key), perms_blob)
        iv = hashlib.md5(b"kg-aes-iv:" + content).digest()[:16]
        enc_stream = _aes_cbc_encrypt(file_key, iv, stream)
        objs[3] = (
            f"<< /Length {len(enc_stream)}{filt} >>\nstream\n".encode()
            + enc_stream
            + b"\nendstream"
        )

        def hx5(b: bytes) -> str:
            return "<" + b.hex() + ">"

        objs.append(
            (
                "<< /Filter /Standard /V 5 /R 6 /Length 256 "
                "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                "/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
                f"/P {p} /O {hx5(o_val)} /OE {hx5(oe_val)} "
                f"/U {hx5(u_val)} /UE {hx5(ue_val)} "
                f"/Perms {hx5(perms)} >>"
            ).encode()
        )
        trailer_extra = (
            f" /Encrypt {len(objs)} 0 R /ID [{hx5(fid)} {hx5(fid)}]"
        )
    elif encrypt:
        aes = encrypt == "aesv2"
        rev, n = (4, 16) if aes else (3, 16)
        fid = hashlib.md5(b"kg-fixture-id:" + content).digest()
        o_val = _std_owner_value(b"owner", b"", rev, n)
        p = -3904  # print/copy denied — a typical protected-PDF mask
        file_key = _std_file_key(o_val, p, fid, rev, n)
        u_val = _std_user_value(file_key, fid, rev)

        def objkey(num: int) -> bytes:
            h = hashlib.md5(
                file_key
                + struct.pack("<I", num)[:3]
                + struct.pack("<I", 0)[:2]
                + (b"sAlT" if aes else b"")
            ).digest()
            return h[:16]

        # re-encrypt the content stream (object 4) payload in place
        if aes:
            iv = hashlib.md5(b"kg-aes-iv:" + content).digest()[:16]
            enc_stream = _aes_cbc_encrypt(objkey(4), iv, stream)
        else:
            enc_stream = _rc4(objkey(4), stream)
        objs[3] = (
            f"<< /Length {len(enc_stream)}{filt} >>\nstream\n".encode()
            + enc_stream
            + b"\nendstream"
        )

        def hx(b: bytes) -> str:
            return "<" + b.hex() + ">"

        if aes:
            enc_dict = (
                "<< /Filter /Standard /V 4 /R 4 /Length 128 "
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                "/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/P {p} /O {hx(o_val)} /U {hx(u_val)} >>"
            )
        else:
            enc_dict = (
                "<< /Filter /Standard /V 2 /R 3 /Length 128 "
                f"/P {p} /O {hx(o_val)} /U {hx(u_val)} >>"
            )
        objs.append(enc_dict.encode())
        trailer_extra = (
            f" /Encrypt {len(objs)} 0 R /ID [{hx(fid)} {hx(fid)}]"
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets: List[int] = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R{trailer_extra} >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(out)


def _assemble_pdf15(objs: List[bytes]) -> bytes:
    """PDF 1.5 assembly for :func:`make_table_pdf`: objects 1,2,3,5
    (the dicts) packed into a Flate /ObjStm as object 6; object 4 (the
    content stream) stays top-level; object 7 is the /Type /XRef
    stream, /W [1 3 2] entries under a PNG Up predictor. Deterministic
    for fixed inputs."""
    packed_nums = [1, 2, 3, 5]
    header = bytearray()
    body = bytearray()
    offs = []
    for num in packed_nums:
        offs.append(len(body))
        body += objs[num - 1] + b"\n"
    for num, off in zip(packed_nums, offs):
        header += f"{num} {off} ".encode()
    payload = bytes(header) + bytes(body)
    objstm_stream = zlib.compress(payload, 6)

    out = bytearray(b"%PDF-1.5\n")
    offsets: Dict[int, int] = {}
    offsets[4] = len(out)
    out += b"4 0 obj\n" + objs[3] + b"\nendobj\n"
    offsets[6] = len(out)
    out += (
        f"6 0 obj\n<< /Type /ObjStm /N {len(packed_nums)} "
        f"/First {len(header)} /Filter /FlateDecode "
        f"/Length {len(objstm_stream)} >>\nstream\n".encode()
        + objstm_stream
        + b"\nendstream\nendobj\n"
    )
    offsets[7] = len(out)

    # xref entries for objects 0..7: /W [1 3 2] → 6 bytes each
    def entry(etype: int, f2: int, f3: int) -> bytes:
        return bytes([etype]) + f2.to_bytes(3, "big") + f3.to_bytes(2, "big")

    rows = [entry(0, 0, 0xFFFF)]  # object 0: free
    for num in range(1, 8):
        if num in packed_nums:
            rows.append(entry(2, 6, packed_nums.index(num)))
        else:
            rows.append(entry(1, offsets[num], 0))
    # PNG Up predictor over 6-byte rows (what real generators emit)
    rowlen = 6
    pred = bytearray()
    prev = bytes(rowlen)
    for r in rows:
        pred.append(2)
        pred += bytes((r[j] - prev[j]) & 0xFF for j in range(rowlen))
        prev = r
    xref_stream = zlib.compress(bytes(pred), 6)
    out += (
        f"7 0 obj\n<< /Type /XRef /Size 8 /W [1 3 2] /Index [0 8] "
        f"/Root 1 0 R /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns {rowlen} >> "
        f"/Length {len(xref_stream)} >>\nstream\n".encode()
        + xref_stream
        + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{offsets[7]}\n%%EOF\n".encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# OLE2 compound files (operators/cfb.py) and the formats built on them


_SECT = 512
_MINISECT = 64


def _pad(b: bytes, size: int, fill: bytes = b"\x00") -> bytes:
    return b + fill * (size - len(b) % size if len(b) % size else 0)


def make_cfb(streams: Sequence[Tuple[str, bytes]]) -> bytes:
    """Minimal valid v3 container with the given root-storage streams.

    Streams < 4096 bytes go through the ministream/mini FAT (the layout
    real Word files use for small streams — exercising the reader's
    mini path); larger ones through the FAT. Deterministic layout:
    directory, mini FAT, ministream, then large streams, then the FAT
    maps itself at the end.
    """
    small = [(n, b) for n, b in streams if len(b) < 4096]
    large = [(n, b) for n, b in streams if len(b) >= 4096]

    # ministream + mini FAT
    ministream = bytearray()
    minifat: List[int] = []
    mini_start: Dict[str, int] = {}
    for name, body in small:
        first = len(minifat)
        mini_start[name] = first if body else _ENDOFCHAIN
        n_chunks = (len(body) + _MINISECT - 1) // _MINISECT
        for i in range(n_chunks):
            minifat.append(first + i + 1 if i + 1 < n_chunks else _ENDOFCHAIN)
        ministream += _pad(body, _MINISECT)
    minifat_bytes = _pad(
        b"".join(struct.pack("<I", v) for v in minifat) or b"", _SECT, b"\xff"
    ) if minifat else b""

    # sector plan (indices before the FAT is appended):
    #   [dir sectors][minifat sectors][ministream sectors][large streams]
    sectors: List[bytes] = []

    def add(data: bytes) -> Tuple[int, int]:
        """Append padded data; return (first sector, sector count)."""
        if not data:
            return _ENDOFCHAIN, 0
        first = len(sectors)
        padded = _pad(data, _SECT)
        for i in range(0, len(padded), _SECT):
            sectors.append(padded[i : i + _SECT])
        return first, len(padded) // _SECT

    # directory needs sector numbers, so reserve its slot first and
    # backfill: compute all layout positions in two passes
    n_dir_entries = 1 + len(small) + len(large)
    n_dir_sects = (n_dir_entries * 128 + _SECT - 1) // _SECT
    dir_first = 0
    minifat_first, n_minifat_sects = (
        (n_dir_sects, len(minifat_bytes) // _SECT)
        if minifat_bytes
        else (_ENDOFCHAIN, 0)
    )
    mini_first = n_dir_sects + n_minifat_sects
    n_mini_sects = (len(ministream) + _SECT - 1) // _SECT

    large_first: Dict[str, int] = {}
    cursor = mini_first + n_mini_sects
    for name, body in large:
        large_first[name] = cursor
        cursor += (len(body) + _SECT - 1) // _SECT
    n_data_sects = cursor  # sectors before the FAT

    def dir_entry(
        name: str,
        otype: int,
        start: int,
        size: int,
        child: int = _FREE,
        right: int = _FREE,
    ) -> bytes:
        raw = name.encode("utf-16-le")
        e = bytearray(128)
        e[: len(raw)] = raw
        struct.pack_into("<H", e, 64, len(raw) + 2)
        e[66] = otype
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, _FREE, right, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    n_streams = len(small) + len(large)
    entries = [
        dir_entry(
            "Root Entry",
            5,
            mini_first if ministream else _ENDOFCHAIN,
            len(ministream),
            child=1 if n_streams else _FREE,
        )
    ]
    # degenerate right-sibling chain — parseable by any tree walker
    all_streams = [(n, mini_start[n], len(b)) for n, b in small] + [
        (n, large_first[n], len(b)) for n, b in large
    ]
    for i, (name, start, size) in enumerate(all_streams):
        right = i + 2 if i + 1 < n_streams else _FREE
        entries.append(dir_entry(name, 2, start, size, right=right))
    dir_bytes = _pad(b"".join(entries), _SECT)

    add(dir_bytes)
    if minifat_bytes:
        add(minifat_bytes)
    add(bytes(ministream))
    for _, body in large:
        add(body)
    assert len(sectors) == n_data_sects

    # FAT: chains for everything above + the FAT sectors themselves
    def fat_count(total_data: int) -> int:
        n = 0
        while True:
            cap = (total_data + n) <= n * (_SECT // 4)
            if cap:
                return n
            n += 1

    n_fat = fat_count(n_data_sects)
    fat = [_FREE] * (n_fat * (_SECT // 4))

    def chain(first: int, count: int) -> None:
        for i in range(count):
            fat[first + i] = first + i + 1 if i + 1 < count else _ENDOFCHAIN

    chain(dir_first, n_dir_sects)
    if minifat_bytes:
        chain(minifat_first, n_minifat_sects)
    chain(mini_first, n_mini_sects)
    for name, body in large:
        chain(large_first[name], (len(body) + _SECT - 1) // _SECT)
    for i in range(n_fat):
        fat[n_data_sects + i] = _FATSECT
    fat_bytes = b"".join(struct.pack("<I", v) for v in fat)
    for i in range(n_fat):
        sectors.append(fat_bytes[i * _SECT : (i + 1) * _SECT])

    difat = [n_data_sects + i for i in range(n_fat)] + [_FREE] * (109 - n_fat)
    header = bytearray(512)
    header[:8] = _MAGIC
    struct.pack_into("<H", header, 24, 0x3E)  # minor
    struct.pack_into("<H", header, 26, 3)  # major v3
    struct.pack_into("<H", header, 28, 0xFFFE)  # little endian
    struct.pack_into("<H", header, 30, 9)  # 512-byte sectors
    struct.pack_into("<H", header, 32, 6)  # 64-byte minisectors
    struct.pack_into("<I", header, 44, n_fat)
    struct.pack_into("<I", header, 48, dir_first)
    struct.pack_into("<I", header, 56, 4096)  # ministream cutoff
    struct.pack_into(
        "<I", header, 60, minifat_first if minifat_bytes else _ENDOFCHAIN
    )
    struct.pack_into("<I", header, 64, n_minifat_sects)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT sectors
    struct.pack_into("<I", header, 72, 0)
    struct.pack_into("<109I", header, 76, *difat)
    return bytes(header) + b"".join(sectors)


def make_doc(paragraphs: Sequence[str]) -> bytes:
    """Deterministic Word-97 fixture bytes.

    The text is split into two pieces to exercise BOTH piece encodings:
    the first half as fCompressed cp1252 when its chars allow it, the
    second as UTF-16LE; a throwaway Prc precedes the Pcdt so the CLX
    walk is exercised too. fWhichTblStm is set (1Table), as Word
    itself writes."""
    text = "".join(p + "\r" for p in paragraphs)
    half = len(text) // 2
    p1, p2 = text[:half], text[half:]

    def cps(s: str) -> int:
        # Word CPs are UTF-16 CODE UNITS — a non-BMP char is TWO CPs
        return len(s.encode("utf-16-le")) // 2

    try:
        p1_bytes = p1.encode("cp1252")
        p1_compressed = True
    except UnicodeEncodeError:
        p1_bytes = p1.encode("utf-16-le")
        p1_compressed = False

    fib = bytearray(898)
    struct.pack_into("<H", fib, 0, 0xA5EC)
    struct.pack_into("<H", fib, 2, 0x00C1)  # nFib: Word 97
    struct.pack_into("<H", fib, 10, 0x0200)  # fWhichTblStm → 1Table
    struct.pack_into("<i", fib, 76, cps(text))  # ccpText, in CPs

    word = bytearray(fib)
    off1 = len(word)
    word += p1_bytes
    off2 = len(word)
    if off2 % 2:  # UTF-16 pieces need an even byte offset
        word += b"\x00"
        off2 += 1
    word += p2.encode("utf-16-le")

    fc1 = (off1 << 1) | _FC_COMPRESSED if p1_compressed else off1
    pieces = [(0, cps(p1), fc1), (cps(p1), cps(text), off2)]
    plc = b"".join(
        struct.pack("<i", cp) for cp in [p[0] for p in pieces] + [cps(text)]
    )
    for _, _, fc in pieces:
        plc += struct.pack("<HIH", 0, fc, 0)
    prc_grpprl = b"\x42\x04\x01"  # arbitrary skipped property bytes
    clx = (
        b"\x01"
        + struct.pack("<h", len(prc_grpprl))
        + prc_grpprl
        + b"\x02"
        + struct.pack("<I", len(plc))
        + plc
    )
    table = bytes(clx)
    struct.pack_into("<II", word, 418, 0, len(clx))  # fcClx=0, lcbClx
    return make_cfb(
        [
            ("WordDocument", bytes(word)),
            ("1Table", table),
            ("\x05SummaryInformation", b"\x00" * 48),
        ]
    )


# ---------------------------------------------------------------------------
# OOXML spreadsheets and presentations (operators/office.py)


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


def make_docx(blocks: Slide) -> bytes:
    """Word document bytes; blocks as in one :func:`make_pptx` slide — a
    string becomes one ``<w:p>`` paragraph, a list of rows one ``<w:tbl>``.
    The markup is Word's: revision-id attributes and ``w:pPr`` / ``w:rPr``
    / ``w:tblPr`` / ``w:tcPr`` property children on every element."""

    def para(text: str) -> str:
        return (
            '<w:p w:rsidR="00A1B2C3" w:rsidRDefault="00A1B2C3">'
            '<w:pPr><w:pStyle w:val="Normal"/></w:pPr>'
            '<w:r><w:rPr><w:lang w:val="en-US"/></w:rPr>'
            f'<w:t xml:space="preserve">{_xml_esc(text)}</w:t></w:r></w:p>'
        )

    def cell(text: str) -> str:
        return f'<w:tc><w:tcPr><w:tcW w:w="2000" w:type="dxa"/></w:tcPr>{para(text)}</w:tc>'

    body = "".join(
        para(blk)
        if isinstance(blk, str)
        else '<w:tbl><w:tblPr><w:tblStyle w:val="TableGrid"/></w:tblPr>'
        + "".join(
            f'<w:tr w:rsidR="00A1B2C3">{"".join(map(cell, row))}</w:tr>' for row in blk
        )
        + "</w:tbl>"
        for blk in blocks
    )
    document = (
        '<?xml version="1.0"?><w:document xmlns:w="http://schemas.openxmlformats'
        f'.org/wordprocessingml/2006/main"><w:body>{body}</w:body></w:document>'
    )
    return _write_zip(
        [
            (
                "[Content_Types].xml",
                b'<?xml version="1.0"?><Types '
                b'xmlns="http://schemas.openxmlformats.org/package/2006/'
                b'content-types"/>',
            ),
            ("word/document.xml", document.encode("utf-8")),
        ]
    )


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


# ---------------------------------------------------------------------------
# BIFF8 .xls and PowerPoint 97 .ppt (operators/legacy_office.py)


_BOF = 0x0809


def _xl_unicode(s: str, short: bool = False) -> bytes:
    """XLUnicodeString(8-bit cch when short); UTF-16 iff any non-latin1."""
    high = any(ord(c) > 0xFF for c in s)
    enc = s.encode("utf-16-le") if high else s.encode("latin-1")
    head = (
        bytes([len(s)]) if short else struct.pack("<H", len(s))
    ) + bytes([0x01 if high else 0x00])
    return head + enc


def _rec(rid: int, body: bytes) -> bytes:
    return struct.pack("<HH", rid, len(body)) + body


def make_xls(
    sheets: Sequence[Tuple[str, Sequence[Sequence[Cell]]]],
    sst_continue_split: bool = False,
) -> bytes:
    """Workbook bytes from [(sheet_name, rows)]. Strings go through the
    SST (LABELSST cells), ints < 2**29 as RK, other numbers as NUMBER;
    ``None`` leaves a column gap. With ``sst_continue_split`` the SST
    is split into a CONTINUE record between two strings — exercising
    the reader's continuation path."""
    shared: List[str] = []
    shared_idx: Dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    sheet_recs: List[bytes] = []
    for _name, rows in sheets:
        recs = [_rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))]
        for rno, row in enumerate(rows):
            for cno, v in enumerate(row):
                if v is None:
                    continue
                if isinstance(v, str):
                    recs.append(
                        _rec(
                            _LABELSST,
                            struct.pack("<HHHI", rno, cno, 0, sref(v)),
                        )
                    )
                elif isinstance(v, bool):
                    recs.append(
                        _rec(
                            _BOOLERR,
                            struct.pack("<HHH", rno, cno, 0)
                            + bytes([1 if v else 0, 0]),
                        )
                    )
                elif isinstance(v, int) and -(1 << 29) <= v < (1 << 29):
                    recs.append(
                        _rec(
                            _RK,
                            struct.pack(
                                "<HHHI",
                                rno,
                                cno,
                                0,
                                # fInt is bit 1 per [MS-XLS] 2.5.276
                                ((v & ((1 << 30) - 1)) << 2) | 0x02,
                            ),
                        )
                    )
                else:
                    recs.append(
                        _rec(
                            _NUMBER,
                            struct.pack("<HHH", rno, cno, 0)
                            + struct.pack("<d", float(v)),
                        )
                    )
        recs.append(_rec(_EOF, b""))
        sheet_recs.append(b"".join(recs))

    # global part: BOF, BOUNDSHEETs (positions backfilled), SST, EOF
    total = len(shared)
    sst_body = struct.pack("<ii", total, total)
    strings = [_xl_unicode(s) for s in shared]
    if sst_continue_split and len(strings) > 1:
        first, rest = strings[: len(strings) // 2], strings[len(strings) // 2 :]
        sst = _rec(_SST, sst_body + b"".join(first)) + _rec(
            _CONTINUE, b"".join(rest)
        )
    else:
        sst = _rec(_SST, sst_body + b"".join(strings))

    bof = _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    # build with placeholder positions, then patch
    bsheets = [
        _rec(
            _BOUNDSHEET,
            struct.pack("<IH", 0, 0) + _xl_unicode(name, short=True),
        )
        for name, _ in sheets
    ]
    globals_part = bof + b"".join(bsheets) + sst + _rec(_EOF, b"")
    # sheet offsets
    offsets = []
    cur = len(globals_part)
    for sr in sheet_recs:
        offsets.append(cur)
        cur += len(sr)
    # patch BOUNDSHEET lbPlyPos fields
    out = bytearray(globals_part + b"".join(sheet_recs))
    pos = len(bof)
    for (name, _), off in zip(sheets, offsets):
        struct.pack_into("<I", out, pos + 4, off)  # lbPlyPos in the body
        pos += 4 + 6 + len(_xl_unicode(name, short=True))
    return make_cfb([("Workbook", bytes(out))])


def make_ppt(texts: Sequence[str]) -> bytes:
    """PowerPoint Document bytes: one container holding one text atom
    per entry — UTF-16 TextCharsAtom when needed, else TextBytesAtom
    (paragraphs inside an entry separated by CR, as PowerPoint
    stores them)."""

    def atom(s: str) -> bytes:
        if any(ord(c) > 0xFF for c in s):
            body = s.encode("utf-16-le")
            return struct.pack("<HHI", 0x0000, _TEXTCHARS, len(body)) + body
        body = s.encode("cp1252")
        return struct.pack("<HHI", 0x0000, _TEXTBYTES, len(body)) + body

    inner = b"".join(atom(t) for t in texts)
    container = struct.pack("<HHI", 0x000F, 0x03E8, len(inner)) + inner
    return make_cfb([("PowerPoint Document", container), ("Current User", b"\x00" * 24)])


# ---------------------------------------------------------------------------
# OpenDocument (operators/odf.py). Per the ODF spec the ``mimetype``
# member is first and STORED (uncompressed) — the writers honour that so
# the fixtures double as magic-sniffable real files.


def _write_odf_zip(mimetype: str, content_xml: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        zi = zipfile.ZipInfo("mimetype", date_time=_ZIP_DATE)
        zi.compress_type = zipfile.ZIP_STORED
        z.writestr(zi, mimetype.encode("ascii"))
        zi = zipfile.ZipInfo("content.xml", date_time=_ZIP_DATE)
        zi.compress_type = zipfile.ZIP_DEFLATED
        zi.external_attr = 0o600 << 16
        z.writestr(zi, content_xml.encode("utf-8"))
    return buf.getvalue()


def _para_xml(text: str) -> str:
    body = (
        _xml_esc(text)
        .replace("\t", "<text:tab/>")
        .replace("\n", "<text:line-break/>")
    )
    # real ODF writers collapse space runs into <text:s> — emit the same
    body = re.sub(
        r"  +",
        lambda m: f' <text:s text:c="{len(m.group(0)) - 1}"/>',
        body,
    )
    return f'<text:p text:style-name="P1">{body}</text:p>'


Block = Union[str, Tuple[int, str], Sequence[Sequence[str]]]


def _blocks_xml(blocks: Sequence[Block]) -> str:
    parts: List[str] = []
    t = 0
    for blk in blocks:
        if isinstance(blk, str):
            parts.append(_para_xml(blk))
        elif isinstance(blk, tuple):
            lvl, text = blk
            parts.append(
                f'<text:h text:outline-level="{lvl}">{_xml_esc(text)}</text:h>'
            )
        else:
            t += 1
            rows = "".join(
                "<table:table-row>"
                + "".join(
                    f"<table:table-cell office:value-type=\"string\">"
                    f"{_para_xml(cell)}</table:table-cell>"
                    for cell in row
                )
                + "</table:table-row>"
                for row in blk
            )
            parts.append(
                f'<table:table table:name="T{t}">'
                f'<table:table-column table:number-columns-repeated="9"/>'
                f"{rows}</table:table>"
            )
    return "".join(parts)


_CONTENT_PREFIX = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    "<office:document-content "
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0">'
    "<office:automatic-styles/>"
    "<office:body>"
)


def make_odt(blocks: Sequence[Block]) -> bytes:
    """odt bytes; a string block → paragraph, ``(level, text)`` tuple →
    heading, list-of-rows → table."""
    xml = (
        _CONTENT_PREFIX
        + "<office:text>"
        + _blocks_xml(blocks)
        + "</office:text></office:body></office:document-content>"
    )
    return _write_odf_zip("application/vnd.oasis.opendocument.text", xml)


def make_odp(pages: Sequence[Sequence[Block]]) -> bytes:
    """odp bytes; each page is a sequence of blocks as in make_odt."""
    xml = (
        _CONTENT_PREFIX
        + "<office:presentation>"
        + "".join(
            f'<draw:page draw:name="page{i + 1}">' + _blocks_xml(pg) + "</draw:page>"
            for i, pg in enumerate(pages)
        )
        + "</office:presentation></office:body></office:document-content>"
    )
    return _write_odf_zip("application/vnd.oasis.opendocument.presentation", xml)


# ---------------------------------------------------------------------------
# RTF (operators/rtf.py)


RtfBlock = Union[str, Sequence[Sequence[str]]]


def _rtf_escape(s: str) -> str:
    out: List[str] = []
    for ch in s:
        if ch in "\\{}":
            out.append("\\" + ch)
        elif ch == "\t":
            out.append("\\tab ")
        elif ch == "\n":
            out.append("\\line ")
        elif ord(ch) < 128:
            out.append(ch)
        elif ord(ch) < 256:
            out.append(f"\\'{ord(ch.encode('cp1252', 'replace')):02x}")
        else:
            cp = ord(ch)
            if cp > 0xFFFF:  # non-BMP → surrogate pair, as Word writes it
                cp -= 0x10000
                hi, lo = 0xD800 + (cp >> 10), 0xDC00 + (cp & 0x3FF)
                for unit in (hi, lo):
                    signed = unit - 65536 if unit > 32767 else unit
                    out.append(f"\\u{signed}?")
            else:
                signed = cp - 65536 if cp > 32767 else cp
                out.append(f"\\u{signed}?")
    return "".join(out)


def make_rtf(blocks: Sequence[RtfBlock]) -> bytes:
    """Deterministic RTF fixture bytes; a string block becomes one
    paragraph, a list-of-rows block one table. Emits the header
    destinations (fonttbl/colortbl/generator) real writers emit so the
    reader's destination skipping is exercised on every fixture."""
    parts: List[str] = [
        "{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1",
        "{\\fonttbl{\\f0\\froman Times New Roman;}{\\f1\\fswiss Arial;}}",
        "{\\colortbl;\\red0\\green0\\blue0;\\red255\\green0\\blue0;}",
        "{\\*\\generator kg-fixture 1.0;}",
        "{\\stylesheet{\\s0 Normal;}}",
    ]
    for blk in blocks:
        if isinstance(blk, str):
            parts.append("\\pard\\f0\\fs24 " + _rtf_escape(blk) + "\\par")
        else:
            for row in blk:
                parts.append("\\trowd\\trgaph108")
                parts.append(
                    "".join(
                        "\\intbl " + _rtf_escape(cell) + "\\cell" for cell in row
                    )
                )
                parts.append("\\row")
    parts.append("}")
    return "".join(parts).encode("cp1252", "replace")


# ---------------------------------------------------------------------------
# JPEG (operators/jpeg.py): baseline and progressive JPEGs from
# already-quantized coefficient blocks


# JPEG Annex K example tables (the spec's own public constants)
_DC_LUM_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_SYMBOLS = list(range(12))
_AC_LUM_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_SYMBOLS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huffman_codes(counts: List[int], symbols: List[int]) -> Dict[int, Tuple[int, int]]:
    """symbol → (code, bit-length), inverse of :func:`_build_huffman`."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_huffman(counts, symbols).items()
    }


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s per spec
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
        return bytes(self.buf)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _assemble_jpeg(
    width: int, height: int, q: List[int], comps_sof: bytes,
    sos_comps: bytes, scan: bytes, adobe_transform: Optional[int] = None,
) -> bytes:
    """Shared segment framing for all fixture encoders: DQT (zigzag,
    table 0) + SOF0 + the Annex K DHT pair + SOS + scan + EOI."""

    zz_q = bytes(q[ZIGZAG[i]] for i in range(64))
    ncomp = len(comps_sof) // 3
    app14 = b""
    if adobe_transform is not None:
        app14 = _seg(
            0xEE, b"Adobe" + b"\x00\x64\x00\x00\x00\x00"
            + bytes([adobe_transform])
        )
    return (
        b"\xff\xd8"
        + app14
        + _seg(0xDB, b"\x00" + zz_q)
        + _seg(0xC0, struct.pack(">BHHB", 8, height, width, ncomp) + comps_sof)
        + _seg(
            0xC4,
            b"\x00" + bytes(_DC_LUM_COUNTS) + bytes(_DC_LUM_SYMBOLS)
            + b"\x10" + bytes(_AC_LUM_COUNTS) + bytes(_AC_LUM_SYMBOLS),
        )
        + _seg(0xDA, sos_comps)
        + scan
        + b"\xff\xd9"
    )


def _write_block(bwr: "_JpegBitWriter", blk: List[int], pred: int,
                 dc_codes, ac_codes) -> int:
    """Entropy-code one quantized block; returns the new DC predictor."""
    diff = blk[0] - pred
    t = _category(diff)
    code, length = dc_codes[t]
    bwr.write(code, length)
    if t:
        mag = diff if diff >= 0 else diff + (1 << t) - 1
        bwr.write(mag & ((1 << t) - 1), t)
    run = 0
    for i in range(1, 64):
        v = blk[ZIGZAG[i]]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bwr.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_codes[(run << 4) | s]
        bwr.write(code, length)
        mag = v if v >= 0 else v + (1 << s) - 1
        bwr.write(mag & ((1 << s) - 1), s)
        run = 0
    if run > 0:
        # EOB only when trailing zeros remain — a coded coefficient 63
        # ends the block WITHOUT an EOB (decoders stop at k == 64 and
        # would misread an extra EOB as the next DC symbol)
        code, length = ac_codes[0x00]
        bwr.write(code, length)
    return blk[0]


def encode_jpeg_blocks(
    width: int,
    height: int,
    blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic grayscale baseline JPEG from quantized coefficient
    blocks (natural order, 64 ints each; blocks row-major over the
    ceil(w/8) × ceil(h/8) grid). Default quantizer is all-8s, so a
    DC-only block decodes to the solid value ``dc + 128`` exactly."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"need {bw * bh} blocks, got {len(blocks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        pred = _write_block(bwr, blk, pred, dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q, b"\x01\x11\x00", b"\x01\x01\x00\x00\x3f\x00", scan
    )


def encode_jpeg_cmyk(
    width: int,
    height: int,
    blocks: List[List[List[int]]],
    quant: Optional[List[int]] = None,
    ycck: bool = False,
) -> bytes:
    """Deterministic 4-component 4:4:4 baseline JPEG (Adobe APP14):
    ``blocks`` is four per-component block lists; ``ycck=True`` marks
    the stored planes as YCCK (transform 2), else direct CMYK
    (transform 0) — exercising the decoder's 4-plane packing and the
    YCCK inversion path."""
    if len(blocks) != 4:
        raise ValueError("need exactly 4 component block lists")
    bw, bh = (width + 7) // 8, (height + 7) // 8
    for ci, blks in enumerate(blocks):
        if len(blks) != bw * bh:
            raise ValueError(f"component {ci}: need {bw * bh} blocks")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _JpegBitWriter()
    preds = [0, 0, 0, 0]
    for i in range(bw * bh):
        for ci in range(4):
            preds[ci] = _write_block(bwr, blocks[ci][i], preds[ci], dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q,
        b"\x01\x11\x00\x02\x11\x00\x03\x11\x00\x04\x11\x00",
        b"\x04\x01\x00\x02\x00\x03\x00\x04\x00\x00\x3f\x00", scan,
        adobe_transform=2 if ycck else 0,
    )


# Progressive encoders. Annex K has no EOBn>1 symbols, so these use a
# fixed-length table pair covering EOB0-14, ZRL and all (run, size
# <= 10) codes — any valid DHT works, the decoder reads it from the
# stream. The scan script is the classic 4-scan successive-approximation
# layout: DC first (Al=1) -> DC refine -> AC first (Al=1, EOB runs) ->
# AC refine (correction bits, libjpeg-style run buffering).
_PROG_DC_COUNTS = [0, 0, 0, 12] + [0] * 12  # 12 symbols, all length 4
_PROG_DC_SYMBOLS = list(range(12))
_PROG_AC_COUNTS = [0] * 7 + [176] + [0] * 8  # 176 symbols, all length 8
_PROG_AC_SYMBOLS = (
    [r << 4 for r in range(15)]  # EOB0..EOB14
    + [0xF0]  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)


def _sos_seg(comps: List[Tuple[int, int, int]], ss: int, se: int,
             ah: int, al: int) -> bytes:
    body = bytes([len(comps)])
    for cid, td, ta in comps:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return bytes([0xFF, 0xDA]) + struct.pack(">H", len(body) + 2) + body


def _write_dc_first_val(bwr, v: int, pred: int, dc_codes) -> int:
    diff = v - pred
    t = _category(diff)
    if t > 11:
        raise ValueError("DC difference too large for fixture table")
    code, length = dc_codes[t]
    bwr.write(code, length)
    if t:
        mag = diff if diff >= 0 else diff + (1 << t) - 1
        bwr.write(mag & ((1 << t) - 1), t)
    return v


class _AcFirstState:
    def __init__(self) -> None:
        self.eobrun = 0


def _flush_ac_first_eobrun(bwr, ac_codes, st: "_AcFirstState") -> None:
    if st.eobrun > 0:
        n = st.eobrun.bit_length() - 1
        code, length = ac_codes[n << 4]
        bwr.write(code, length)
        if n:
            bwr.write(st.eobrun - (1 << n), n)
        st.eobrun = 0


def _write_block_ac_first(bwr, blk, ss, se, al, ac_codes,
                          st: "_AcFirstState") -> None:
    vals = []
    for k in range(ss, se + 1):
        c = blk[ZIGZAG[k]]
        m = abs(c) >> al
        vals.append(m if c >= 0 else -m)
    if not any(vals):
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_ac_first_eobrun(bwr, ac_codes, st)
        return
    last_nz = max(i for i, v in enumerate(vals) if v)
    _flush_ac_first_eobrun(bwr, ac_codes, st)
    run = 0
    for v in vals[: last_nz + 1]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bwr.write(code, length)
            run -= 16
        s = _category(v)
        if s > 10:
            raise ValueError("AC magnitude too large for fixture table")
        code, length = ac_codes[(run << 4) | s]
        bwr.write(code, length)
        mag = v if v >= 0 else v + (1 << s) - 1
        bwr.write(mag & ((1 << s) - 1), s)
        run = 0
    if last_nz < se - ss:  # trailing zeros -> this block starts an EOB run
        st.eobrun = 1


class _AcRefineState:
    def __init__(self) -> None:
        self.eobrun = 0
        self.be: List[int] = []  # correction bits tied to the pending run


def _flush_ac_refine_eobrun(bwr, ac_codes, st: "_AcRefineState") -> None:
    if st.eobrun > 0:
        n = st.eobrun.bit_length() - 1
        code, length = ac_codes[n << 4]
        bwr.write(code, length)
        if n:
            bwr.write(st.eobrun - (1 << n), n)
        st.eobrun = 0
    for b in st.be:
        bwr.write(b, 1)
    st.be = []


def _write_block_ac_refine(bwr, blk, ss, se, al, ac_codes,
                           st: "_AcRefineState") -> None:
    """libjpeg-shaped refinement pass: ZRLs only inside the
    newly-significant span (folded into the EOB run past it), correction
    bits buffered and flushed with the symbol they follow."""
    absv = []
    eob_pos = ss - 1  # index of the LAST newly-significant coefficient
    for k in range(ss, se + 1):
        t = abs(blk[ZIGZAG[k]]) >> al
        absv.append(t)
        if t == 1:
            eob_pos = k
    r = 0
    br: List[int] = []  # this block's pending correction bits
    for k in range(ss, se + 1):
        temp = absv[k - ss]
        if temp == 0:
            r += 1
            continue
        while r > 15 and k <= eob_pos:
            _flush_ac_refine_eobrun(bwr, ac_codes, st)
            code, length = ac_codes[0xF0]
            bwr.write(code, length)
            r -= 16
            for b in br:
                bwr.write(b, 1)
            br = []
        if temp > 1:
            br.append(temp & 1)
            continue
        _flush_ac_refine_eobrun(bwr, ac_codes, st)
        code, length = ac_codes[(r << 4) | 1]
        bwr.write(code, length)
        bwr.write(1 if blk[ZIGZAG[k]] >= 0 else 0, 1)
        for b in br:
            bwr.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.be.extend(br)
        if st.eobrun == 0x7FFF:
            _flush_ac_refine_eobrun(bwr, ac_codes, st)


def _assemble_progressive(width, height, q, comps_sof, scans) -> bytes:
    """SOI + DQT + SOF2 + the fixture DHT pair + the scan list + EOI."""

    zz_q = bytes(q[ZIGZAG[i]] for i in range(64))
    ncomp = len(comps_sof) // 3
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + zz_q)
    out += _seg(0xC2, struct.pack(">BHHB", 8, height, width, ncomp) + comps_sof)
    out += _seg(
        0xC4,
        b"\x00" + bytes(_PROG_DC_COUNTS) + bytes(_PROG_DC_SYMBOLS)
        + b"\x10" + bytes(_PROG_AC_COUNTS) + bytes(_PROG_AC_SYMBOLS),
    )
    for sos, scan in scans:
        out += sos + scan
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic grayscale PROGRESSIVE JPEG from the same quantized
    coefficient blocks :func:`encode_jpeg_blocks` takes — decodes to
    bit-identical pixels (tested), but through the SOF2 multi-scan
    path."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"need {bw * bh} blocks, got {len(blocks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_PROG_DC_COUNTS, _PROG_DC_SYMBOLS)
    ac_codes = _huffman_codes(_PROG_AC_COUNTS, _PROG_AC_SYMBOLS)
    scans = []
    # scan 1: DC first, Al=1
    bwr = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        pred = _write_dc_first_val(bwr, blk[0] >> 1, pred, dc_codes)
    scans.append((_sos_seg([(1, 0, 0)], 0, 0, 0, 1), bwr.flush()))
    # scan 2: DC refinement, Ah=1 Al=0
    bwr = _JpegBitWriter()
    for blk in blocks:
        bwr.write(blk[0] & 1, 1)
    scans.append((_sos_seg([(1, 0, 0)], 0, 0, 1, 0), bwr.flush()))
    # scan 3: AC first, band 1-63, Al=1
    bwr = _JpegBitWriter()
    st1 = _AcFirstState()
    for blk in blocks:
        _write_block_ac_first(bwr, blk, 1, 63, 1, ac_codes, st1)
    _flush_ac_first_eobrun(bwr, ac_codes, st1)
    scans.append((_sos_seg([(1, 0, 0)], 1, 63, 0, 1), bwr.flush()))
    # scan 4: AC refinement, band 1-63, Ah=1 Al=0
    bwr = _JpegBitWriter()
    st2 = _AcRefineState()
    for blk in blocks:
        _write_block_ac_refine(bwr, blk, 1, 63, 0, ac_codes, st2)
    _flush_ac_refine_eobrun(bwr, ac_codes, st2)
    scans.append((_sos_seg([(1, 0, 0)], 1, 63, 1, 0), bwr.flush()))
    return _assemble_progressive(width, height, q, b"\x01\x11\x00", scans)


def encode_jpeg_ycbcr444(
    width: int,
    height: int,
    y_blocks: List[List[int]],
    cb_blocks: List[List[int]],
    cr_blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic 3-component 4:4:4 baseline JPEG from quantized
    coefficient blocks (one block per component per MCU, shared quant
    and Huffman tables, per-component DC predictors) — exercises the
    decoder's interleaved-MCU walk and YCbCr→RGB conversion."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    for name, blks in (("y", y_blocks), ("cb", cb_blocks), ("cr", cr_blocks)):
        if len(blks) != bw * bh:
            raise ValueError(f"{name}: need {bw * bh} blocks, got {len(blks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _JpegBitWriter()
    preds = [0, 0, 0]
    for i in range(bw * bh):
        for ci, blks in enumerate((y_blocks, cb_blocks, cr_blocks)):
            preds[ci] = _write_block(bwr, blks[i], preds[ci], dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q,
        b"\x01\x11\x00\x02\x11\x00\x03\x11\x00",
        b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00", scan,
    )


def encode_jpeg_ycbcr420(
    width: int,
    height: int,
    y_blocks: List[List[int]],
    cb_blocks: List[List[int]],
    cr_blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic 4:2:0 baseline JPEG: each MCU interleaves four Y
    blocks (2×2) with one Cb and one Cr block — exercises the decoder's
    chroma upsampling. ``y_blocks`` covers a (2·mcus_x)×(2·mcus_y)
    grid row-major; the chroma grids are mcus_x×mcus_y."""
    mcus_x = (width + 15) // 16
    mcus_y = (height + 15) // 16
    if len(y_blocks) != 4 * mcus_x * mcus_y:
        raise ValueError(
            f"y: need {4 * mcus_x * mcus_y} blocks, got {len(y_blocks)}"
        )
    for name, blks in (("cb", cb_blocks), ("cr", cr_blocks)):
        if len(blks) != mcus_x * mcus_y:
            raise ValueError(
                f"{name}: need {mcus_x * mcus_y} blocks, got {len(blks)}"
            )
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _JpegBitWriter()
    preds = [0, 0, 0]
    yw = 2 * mcus_x  # Y block-grid width
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(2):
                for bx in range(2):
                    idx = (my * 2 + by) * yw + mx * 2 + bx
                    preds[0] = _write_block(
                        bwr, y_blocks[idx], preds[0], dc_codes, ac_codes
                    )
            ci = my * mcus_x + mx
            preds[1] = _write_block(bwr, cb_blocks[ci], preds[1], dc_codes, ac_codes)
            preds[2] = _write_block(bwr, cr_blocks[ci], preds[2], dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q,
        b"\x01\x22\x00\x02\x11\x00\x03\x11\x00",
        b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00", scan,
    )


def encode_jpeg_progressive_ycbcr444(
    width: int,
    height: int,
    y_blocks: List[List[int]],
    cb_blocks: List[List[int]],
    cr_blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """3-component 4:4:4 progressive fixture: INTERLEAVED DC scans
    (first + refine over MCUs, per-component predictors) followed by
    per-component AC first/refine scans — exercises every progressive
    scan shape the decoder supports."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    all_blocks = (y_blocks, cb_blocks, cr_blocks)
    for name, blks in zip("y cb cr".split(), all_blocks):
        if len(blks) != bw * bh:
            raise ValueError(f"{name}: need {bw * bh} blocks, got {len(blks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_PROG_DC_COUNTS, _PROG_DC_SYMBOLS)
    ac_codes = _huffman_codes(_PROG_AC_COUNTS, _PROG_AC_SYMBOLS)
    scans = []
    comps = [(1, 0, 0), (2, 0, 0), (3, 0, 0)]
    # interleaved DC first (Al=1): component-interleaved per MCU
    bwr = _JpegBitWriter()
    preds = [0, 0, 0]
    for i in range(bw * bh):
        for ci, blks in enumerate(all_blocks):
            preds[ci] = _write_dc_first_val(
                bwr, blks[i][0] >> 1, preds[ci], dc_codes
            )
    scans.append((_sos_seg(comps, 0, 0, 0, 1), bwr.flush()))
    # interleaved DC refine
    bwr = _JpegBitWriter()
    for i in range(bw * bh):
        for blks in all_blocks:
            bwr.write(blks[i][0] & 1, 1)
    scans.append((_sos_seg(comps, 0, 0, 1, 0), bwr.flush()))
    # per-component AC first then refine (non-interleaved, as required)
    for ci, blks in enumerate(all_blocks):
        bwr = _JpegBitWriter()
        st1 = _AcFirstState()
        for blk in blks:
            _write_block_ac_first(bwr, blk, 1, 63, 1, ac_codes, st1)
        _flush_ac_first_eobrun(bwr, ac_codes, st1)
        scans.append((_sos_seg([(ci + 1, 0, 0)], 1, 63, 0, 1), bwr.flush()))
    for ci, blks in enumerate(all_blocks):
        bwr = _JpegBitWriter()
        st2 = _AcRefineState()
        for blk in blks:
            _write_block_ac_refine(bwr, blk, 1, 63, 0, ac_codes, st2)
        _flush_ac_refine_eobrun(bwr, ac_codes, st2)
        scans.append((_sos_seg([(ci + 1, 0, 0)], 1, 63, 1, 0), bwr.flush()))
    return _assemble_progressive(
        width, height, q, b"\x01\x11\x00\x02\x11\x00\x03\x11\x00", scans
    )


# ---------------------------------------------------------------------------
# Lossless WebP (operators/vp8l.py)


def _sub_px(a: int, b: int) -> int:
    """Per-channel (a-b) mod 256 on packed ARGB (forward residual)."""
    return (
        (((a >> 24) - (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.bitpos = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bitpos == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << self.bitpos
            self.bitpos = (self.bitpos + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        """Prefix code bits, MSB of the code first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)


def _huffman_lengths(freqs: Dict[int, int], alphabet_size: int) -> List[int]:
    """Code lengths from frequencies (max depth 15; falls back to a
    flat code if the tree would exceed it — cannot happen for the
    small fixture alphabets, but the guard keeps the encoder total)."""
    import heapq
    import itertools

    used = [(f, s) for s, f in freqs.items() if f > 0]
    lengths = [0] * alphabet_size
    if not used:
        return lengths
    if len(used) == 1:
        lengths[used[0][1]] = 1
        return lengths
    counter = itertools.count()
    heap = [(f, next(counter), [s]) for f, s in used]
    heapq.heapify(heap)
    depth: Dict[int, int] = {s: 0 for _, s in used}
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, next(counter), s1 + s2))
    if max(depth.values()) > 15:
        flat = max(1, (len(used) - 1).bit_length())
        for _, s in used:
            lengths[s] = flat
        return lengths
    for s, d in depth.items():
        lengths[s] = d
    return lengths


def _write_tree(bw: _BitWriter, lengths: List[int]) -> None:
    used = [s for s, ln in enumerate(lengths) if ln > 0]
    if len(used) <= 2 and all(s <= 255 for s in used) and (
        not used or max(lengths[s] for s in used) <= 1 or len(used) == 1
    ):
        # simple code
        bw.write(1, 1)
        if not used:
            used = [0]
        bw.write(len(used) - 1, 1)
        if used[0] > 1:
            bw.write(1, 1)  # 8-bit first symbol
            bw.write(used[0], 8)
        else:
            bw.write(0, 1)
            bw.write(used[0], 1)
        if len(used) == 2:
            bw.write(used[1], 8)
        return
    bw.write(0, 1)  # normal code
    # RLE the lengths: literals + zero-runs via 17/18
    tokens: List[Tuple[int, int]] = []  # (cl_symbol, extra_value)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            j = i
            while j < n and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 138)
                tokens.append((18, r - 11))
                run -= r
            while run >= 3:
                r = min(run, 10)
                tokens.append((17, r - 3))
                run -= r
            for _ in range(run):
                tokens.append((0, 0))
            i = j
        else:
            tokens.append((lengths[i], 0))
            i += 1
    cl_freq: Dict[int, int] = {}
    for sym, _ in tokens:
        cl_freq[sym] = cl_freq.get(sym, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, 19)
    if max(cl_lengths) > 7:
        raise ValueError("code-length code exceeds 3-bit field")
    # find how many ORDER entries we must write to cover all nonzero
    num_cl = 19
    while num_cl > 4 and cl_lengths[_CL_ORDER[num_cl - 1]] == 0:
        num_cl -= 1
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl_codes = _canonical_codes(cl_lengths)
    single_cl = len([ln for ln in cl_lengths if ln]) == 1
    for sym, extra in tokens:
        if not single_cl:
            code, ln = cl_codes[sym]
            bw.write_code(code, ln)
        # a single-symbol code-length tree consumes zero bits
        if sym == 17:
            bw.write(extra, 3)
        elif sym == 18:
            bw.write(extra, 7)
        elif sym == 16:
            bw.write(extra, 2)


def _write_literal_stream(
    bw: _BitWriter, argb: Sequence[int], is_main: bool
) -> None:
    """Entropy-coded image of plain literals (no cache, no meta, no
    LZ77) with canonical prefix codes — shared by the main image and
    the transform sub-images."""
    bw.write(0, 1)  # no color cache
    if is_main:
        bw.write(0, 1)  # no meta prefix codes
    gs = [(p >> 8) & 0xFF for p in argb]
    rs = [(p >> 16) & 0xFF for p in argb]
    bs = [p & 0xFF for p in argb]
    As = [(p >> 24) & 0xFF for p in argb]

    def freq(vals: List[int]) -> Dict[int, int]:
        f: Dict[int, int] = {}
        for v in vals:
            f[v] = f.get(v, 0) + 1
        return f

    g_len = _huffman_lengths(freq(gs), 256 + 24)
    r_len = _huffman_lengths(freq(rs), 256)
    b_len = _huffman_lengths(freq(bs), 256)
    a_len = _huffman_lengths(freq(As), 256)
    d_len = [0] * 40  # no distance symbols used
    for lens in (g_len, r_len, b_len, a_len, d_len):
        _write_tree(bw, lens)
    codes = [
        _canonical_codes(lens) for lens in (g_len, r_len, b_len, a_len)
    ]
    singles = [len(c) <= 1 for c in codes]
    for i in range(len(argb)):
        for ch, vals in enumerate((gs, rs, bs, As)):
            if not singles[ch]:
                bw.write_code(*codes[ch][vals[i]])


def encode_vp8l(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    transforms: Sequence = (),
) -> bytes:
    """Deterministic VP8L payload: literal streams (no cache, no LZ77)
    with real canonical prefix codes, optionally behind forward
    transforms so the decoder's inverse paths are exercised end to
    end.  ``pixels`` is interleaved RGB (channels=3, alpha=255) or
    RGBA (channels=4).  ``transforms`` entries, applied in order:
    ``"subtract_green"``, ``("predictor", mode)`` (one whole-image
    block, modes 0-13), ``("color", (g2r, g2b, r2b))`` (one
    whole-image cte, deltas as signed ints)."""
    if channels not in (3, 4):
        raise ValueError("encode_vp8l supports RGB or RGBA input")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    if not (1 <= width <= 1 << 14 and 1 <= height <= 1 << 14):
        raise ValueError("VP8L dimensions out of range")
    n = width * height
    argb: List[int] = []
    for i in range(n):
        o = i * channels
        a = pixels[o + 3] if channels == 4 else 255
        argb.append(
            (a << 24) | (pixels[o] << 16) | (pixels[o + 1] << 8) | pixels[o + 2]
        )

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version

    size_bits = 9  # max block (512) -> one block covers fixture images
    block_w = (width + (1 << size_bits) - 1) >> size_bits
    block_h = (height + (1 << size_bits) - 1) >> size_bits
    for t in transforms:
        if t == "subtract_green":
            bw.write(1, 1)
            bw.write(2, 2)
            argb = [
                (v & 0xFF00FF00)
                | ((((v >> 16) & 0xFF) - ((v >> 8) & 0xFF)) & 0xFF) << 16
                | (((v & 0xFF) - ((v >> 8) & 0xFF)) & 0xFF)
                for v in argb
            ]
        elif t[0] == "predictor":
            mode = t[1]
            if not 0 <= mode <= 13:
                raise ValueError("predictor mode out of range")
            bw.write(1, 1)
            bw.write(0, 2)
            bw.write(size_bits - 2, 3)
            sub = [0xFF000000 | (mode << 8)] * (block_w * block_h)
            _write_literal_stream(bw, sub, is_main=False)
            argb = [
                _sub_px(
                    argb[y * width + x],
                    _predict(argb, width, x, y, size_bits, sub, block_w),
                )
                for y in range(height)
                for x in range(width)
            ]
        elif t[0] == "color":
            g2r, g2b, r2b = (d & 0xFF for d in t[1])
            bw.write(1, 1)
            bw.write(1, 2)
            bw.write(size_bits - 2, 3)
            cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
            _write_literal_stream(
                bw, [cte] * (block_w * block_h), is_main=False
            )
            out: List[int] = []
            for v in argb:
                g = _i8((v >> 8) & 0xFF)
                r0 = (v >> 16) & 0xFF
                r = (r0 - ((_i8(g2r) * g) >> 5)) & 0xFF
                b = (
                    (v & 0xFF)
                    - ((_i8(g2b) * g) >> 5)
                    - ((_i8(r2b) * _i8(r0)) >> 5)
                ) & 0xFF
                out.append((v & 0xFF00FF00) | (r << 16) | b)
            argb = out
        else:
            raise ValueError(f"unknown encoder transform {t!r}")
    bw.write(0, 1)  # no more transforms
    _write_literal_stream(bw, argb, is_main=True)
    return bytes(bw.out)


def encode_webp_lossless(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    transforms: Sequence = (),
) -> bytes:
    """Full RIFF WebP container around :func:`encode_vp8l`."""
    payload = encode_vp8l(width, height, pixels, channels, transforms)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _p24(v: int) -> bytes:
    return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    out = cid + struct.pack("<I", len(body)) + body
    return out + (b"\x00" if len(body) & 1 else b"")


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def encode_webp_anim(
    canvas_w: int,
    canvas_h: int,
    frames,
    loop: int = 0,
) -> bytes:
    """Deterministic animated-WebP fixture: VP8X(anim) + ANIM + one
    ANMF per frame, each embedding :func:`encode_vp8l` output. Frames
    are (x, y, fw, fh, pixels, channels, dispose, blend) with the
    shared codes; x/y must be even (the format stores offsets /2)."""

    vp8x = bytes([0x02, 0, 0, 0]) + _p24(canvas_w - 1) + _p24(canvas_h - 1)
    anim = struct.pack("<IH", 0, loop)  # transparent-black bg, loop count
    body = _riff_chunk(b"VP8X", vp8x) + _riff_chunk(b"ANIM", anim)
    for x, y, fw, fh, pixels, channels, dispose, blend in frames:
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets must be even")
        payload = encode_vp8l(fw, fh, pixels, channels)
        flags = (dispose & 0x01) | (0x00 if blend else 0x02)
        anmf = (
            _p24(x // 2)
            + _p24(y // 2)
            + _p24(fw - 1)
            + _p24(fh - 1)
            + _p24(4)  # duration ms
            + bytes([flags])
            + _riff_chunk(b"VP8L", payload)
        )
        body += _riff_chunk(b"ANMF", anmf)
    full = b"WEBP" + body
    return b"RIFF" + struct.pack("<I", len(full)) + full


# ---------------------------------------------------------------------------
# FLAC (operators/flac.py)


class _BitWriterMSB:
    def __init__(self) -> None:
        self.out = bytearray()
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            if self.nbits % 8 == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << (7 - (self.nbits % 8))
            self.nbits += 1

    def write_signed(self, value: int, n: int) -> None:
        self.write(value & ((1 << n) - 1), n)

    def align(self) -> None:
        while self.nbits % 8:
            self.write(0, 1)


def _write_rice(bw: _BitWriterMSB, values: Sequence[int], param: int) -> None:
    for v in values:
        u = (abs(v) << 1) - (1 if v < 0 else 0)  # zigzag
        q = u >> param
        if q > 1 << 20:
            raise ValueError("rice parameter too small for residual")
        bw.write(0, q)
        bw.write(1, 1)
        bw.write(u & ((1 << param) - 1), param)


def encode_flac(
    samples: Sequence[int],
    sample_rate: int,
    channels: int = 1,
    bps: int = 16,
    block_size: int = 1024,
    subframe: str = "verbatim",
) -> bytes:
    """Deterministic FLAC fixture: STREAMINFO + fixed-blocksize frames
    whose subframes are all ``subframe`` ∈ {'verbatim', 'constant',
    'fixed1', 'fixed2'} (constant requires each block constant per
    channel; fixedN rice-codes real order-N residuals, exercising the
    predictor + Rice paths). Interleaved ``samples`` like encode_wav.
    CRC-8/CRC-16 are genuine, so the decoder's verification passes."""
    if subframe not in ("verbatim", "constant", "fixed1", "fixed2"):
        raise ValueError(f"unsupported subframe kind {subframe!r}")
    if channels < 1 or len(samples) % channels:
        raise ValueError("sample count must divide channels")
    n_total = len(samples) // channels
    si_bits = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bps - 1) << 36)
        | n_total
    )
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + b"\x00\x00\x00" * 2  # min/max frame size unknown
        + si_bits.to_bytes(8, "big")
        + b"\x00" * 16
    )
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    frame_idx = 0
    for start in range(0, n_total, block_size):
        nb = min(block_size, n_total - start)
        chans = [
            [samples[(start + i) * channels + c] for i in range(nb)]
            for c in range(channels)
        ]
        bw = _BitWriterMSB()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocksize
        bw.write(7, 4)  # blocksize: 16-bit follows
        bw.write(9 if sample_rate == 44100 else 13, 4)
        bw.write(channels - 1, 4)  # independent channels
        bw.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps], 3)
        bw.write(0, 1)  # reserved
        if frame_idx < 0x80:
            bw.write(frame_idx, 8)  # UTF-8 single byte
        else:
            bw.write(0xC0 | (frame_idx >> 6), 8)
            bw.write(0x80 | (frame_idx & 0x3F), 8)
        bw.write(nb - 1, 16)  # blocksize follow-up (code 7)
        if sample_rate != 44100:
            bw.write(sample_rate, 16)  # rate follow-up (code 13, Hz)
        hdr = bytes(bw.out)
        bw.write(_crc8(hdr), 8)
        for ch in chans:
            bw.write(0, 1)  # padding
            if subframe == "constant" and len(set(ch)) == 1:
                bw.write(0, 6)
                bw.write(0, 1)  # no wasted bits
                bw.write_signed(ch[0], bps)
            elif subframe in ("fixed1", "fixed2") and nb > int(subframe[-1]):
                order = int(subframe[-1])
                bw.write(8 + order, 6)
                bw.write(0, 1)
                for w in ch[:order]:
                    bw.write_signed(w, bps)
                coefs = _FIXED_COEFS[order]
                resid = [
                    ch[i] - sum(c * ch[i - 1 - j] for j, c in enumerate(coefs))
                    for i in range(order, nb)
                ]
                bw.write(0, 2)  # rice, 4-bit params
                bw.write(0, 4)  # partition order 0
                mx = max((abs(r) for r in resid), default=0)
                param = min(14, max(1, (2 * mx + 1).bit_length()))
                bw.write(param, 4)
                _write_rice(bw, resid, param)
            else:
                bw.write(1, 6)  # verbatim
                bw.write(0, 1)
                for s in ch:
                    bw.write_signed(s, bps)
        bw.align()
        frame = bytes(bw.out)
        bw.write(_crc16(frame), 16)
        out += bytes(bw.out)
        frame_idx += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# Images, audio and video containers (operators/multimodal.py)


def encode_jpeg_exif(
    width: int,
    height: int,
    orientation: int = 1,
    make: str = "",
    model: str = "",
    taken_at: str = "",
    gps: Optional[Tuple[str, str]] = None,
) -> bytes:
    """Minimal JFIF stream: APP1 EXIF (IFD0 with orientation/make/
    model + an ExifIFD holding DateTime, plus a GPS IFD when ``gps``
    is a (lat_ref, lon_ref) pair) + an SOF0 with the dims — the
    deterministic fixture counterpart of :func:`parse_exif` and
    :func:`scrub_exif_gps`."""
    entries = []  # (tag, type, count, value-bytes or int)
    tail = bytearray()

    def ascii_entry(tag: int, s: str) -> None:
        raw = s.encode("latin-1") + b"\x00"
        if len(raw) <= 4:
            entries.append((tag, 2, len(raw), raw + b"\x00" * (4 - len(raw))))
        else:
            entries.append((tag, 2, len(raw), raw))

    entries.append((274, 3, 1, struct.pack("<HH", orientation, 0)))
    if make:
        ascii_entry(271, make)
    if model:
        ascii_entry(272, model)
    n0 = len(entries) + 1 + (1 if gps else 0)  # + pointer entries
    # IFD0 layout: header(8) + count(2) + 12*n0 + next(4), then out-of-line
    # values, then the Exif sub-IFD (then the GPS IFD)
    value_off = 8 + 2 + 12 * n0 + 4
    fixed: List[bytes] = []
    for tag, ftype, count, val in entries:
        if isinstance(val, bytes) and len(val) > 4:
            fixed.append(
                struct.pack("<HHII", tag, ftype, count, value_off + len(tail))
            )
            tail.extend(val)
        else:
            fixed.append(struct.pack("<HHI", tag, ftype, count) + val)
    exif_ifd_off = value_off + len(tail)
    fixed.append(struct.pack("<HHII", 0x8769, 4, 1, exif_ifd_off))
    sub_entries = []
    sub_tail = bytearray()
    if taken_at:
        raw = taken_at.encode("latin-1") + b"\x00"
        sub_value_off = exif_ifd_off + 2 + 12 + 4
        if len(raw) <= 4:
            sub_entries.append(
                struct.pack("<HHI", 306, 2, len(raw))
                + raw
                + b"\x00" * (4 - len(raw))
            )
        else:
            sub_entries.append(struct.pack("<HHII", 306, 2, len(raw), sub_value_off))
            sub_tail.extend(raw)
    sub_ifd = (
        struct.pack("<H", len(sub_entries))
        + b"".join(sub_entries)
        + b"\x00\x00\x00\x00"
        + bytes(sub_tail)
    )
    gps_ifd = b""
    if gps:
        gps_ifd_off = exif_ifd_off + len(sub_ifd)
        fixed.append(struct.pack("<HHII", 0x8825, 4, 1, gps_ifd_off))
        lat_ref, lon_ref = gps

        def gps_ascii(tag: int, s: str) -> bytes:
            raw = (s.encode("latin-1") + b"\x00")[:4]
            return (
                struct.pack("<HHI", tag, 2, len(raw))
                + raw
                + b"\x00" * (4 - len(raw))
            )

        gentries = [gps_ascii(1, lat_ref), gps_ascii(3, lon_ref)]
        gps_ifd = (
            struct.pack("<H", len(gentries))
            + b"".join(gentries)
            + b"\x00\x00\x00\x00"
        )
    # TIFF6 requires entries ascending by TAG — sorting the packed
    # little-endian bytes puts 0x8825 before 0x8769 (low byte first)
    fixed.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    tiff = (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", n0)
        + b"".join(fixed)
        + b"\x00\x00\x00\x00"
        + bytes(tail)
        + sub_ifd
        + gps_ifd
    )
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2) + app1_body
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app1 + sof0 + b"\xff\xd9"


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Fixture counterpart of :func:`_tiff_lzw_decode` (same early-
    change rule, Clear emitted once up front, EOI at the end)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits: List[Tuple[int, int]] = [(256, 9)]
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        bits.append((table[cur], width))
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4094:  # reset before the 12-bit table fills
            bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([byte])
    if cur:
        bits.append((table[cur], width))
    bits.append((257, width))
    out = bytearray()
    acc = n_acc = 0
    for code, w in bits:
        acc = (acc << w) | code
        n_acc += w
        while n_acc >= 8:
            out.append((acc >> (n_acc - 8)) & 0xFF)
            n_acc -= 8
    if n_acc:
        out.append((acc << (8 - n_acc)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Simple PackBits encoder: runs ≥3 as replicate, rest literal."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i
            lit = bytearray()
            while j < n and len(lit) < 128:
                run = 1
                while j + run < n and run < 3 and data[j + run] == data[j]:
                    run += 1
                if run >= 3:
                    break
                take = min(run, 128 - len(lit))  # never exceed a header
                lit += data[j : j + take]
                j += take
            out += bytes([len(lit) - 1]) + lit
            i = j
    return bytes(out)


def encode_ico(
    images: Sequence[Tuple[int, int, bytes, int]], as_png: bool = False
) -> bytes:
    """Deterministic ICO fixture from [(w, h, pixels, channels)]:
    entries as embedded PNG (``as_png=True``) or classic DIBs (the
    encode_bmp body with doubled header height plus an all-zero AND
    mask) — the fixture counterpart of :func:`decode_ico`."""
    payloads = []
    for w, h, px, ch in images:
        if as_png:
            payloads.append(encode_png(w, h, px, ch))
        else:
            bmp = encode_bmp(w, h, px, ch)
            dib = bytearray(bmp[14:])
            struct.pack_into("<i", dib, 8, h * 2)
            mask_stride = ((w + 31) // 32) * 4
            payloads.append(bytes(dib) + b"\x00" * (mask_stride * h))
    out = bytearray(struct.pack("<HHH", 0, 1, len(images)))
    off = 6 + 16 * len(images)
    for (w, h, _px, ch), body in zip(images, payloads):
        out += bytes([w % 256, h % 256, 0, 0])
        out += struct.pack("<HHII", 1, ch * 8, len(body), off)
        off += len(body)
    for body in payloads:
        out += body
    return bytes(out)


def encode_bmp(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Deterministic BMP fixture encoder (bottom-up, BI_RGB)."""
    if channels not in (3, 4):
        raise ValueError("BMP encoder is 24/32-bit only")
    bpp = channels * 8
    stride = (width * channels + 3) & ~3
    body = bytearray()
    for row in range(height - 1, -1, -1):
        line = bytearray()
        for x in range(width):
            o = (row * width + x) * channels
            px = pixels[o : o + channels]
            line += bytes([px[2], px[1], px[0]]) + (
                bytes([px[3]]) if channels == 4 else b""
            )
        body += line + b"\x00" * (stride - len(line))
    hdr = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM",
        54 + len(body),
        0,
        0,
        54,
        40,
        width,
        height,
        1,
        bpp,
        0,
        len(body),
        2835,
        2835,
        0,
        0,
    )
    return hdr + bytes(body)


def encode_tiff(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    big_endian: bool = False,
    compression: str = "none",
    predictor: bool = False,
) -> bytes:
    """Deterministic TIFF fixture encoder (one strip). ``compression``
    ∈ {'none', 'lzw', 'deflate', 'packbits'}; ``predictor=True``
    applies horizontal differencing (tag 317 = 2) before compression —
    the standard pairing real encoders use with LZW/Deflate."""
    end = ">" if big_endian else "<"
    magic = b"MM\x00*" if big_endian else b"II*\x00"
    pix = bytes(pixels)
    if predictor:
        diff = bytearray(pix)
        stride = width * channels
        for y in range(height):
            base = y * stride
            for x in range(stride - 1, channels - 1, -1):
                diff[base + x] = (
                    diff[base + x] - diff[base + x - channels]
                ) & 0xFF
        pix = bytes(diff)
    comp_code = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773}[
        compression
    ]
    if compression == "lzw":
        pix = _tiff_lzw_encode(pix)
    elif compression == "deflate":
        pix = zlib.compress(pix, 6)
    elif compression == "packbits":
        pix = _packbits_encode(pix)
    ifd_off = 8 + len(pix)

    def entry(tag: int, ftype: int, count: int, value: int) -> bytes:
        e = struct.pack(end + "HHI", tag, ftype, count)
        if ftype == 3 and count == 1:
            return e + struct.pack(end + "HH", value, 0)
        return e + struct.pack(end + "I", value)

    entries = [
        entry(256, 4, 1, width),
        entry(257, 4, 1, height),
        entry(259, 3, 1, comp_code),
        entry(262, 3, 1, 2 if channels >= 3 else 1),  # photometric
        entry(273, 4, 1, 8),  # strip offset: right after header
        entry(277, 3, 1, channels),
        entry(279, 4, 1, len(pix)),
        entry(284, 3, 1, 1),  # chunky
    ]
    if predictor:
        entries.append(entry(317, 3, 1, 2))
    if channels >= 3:
        # BitsPerSample [8,8,8(,8)] — stored out-of-line
        bps_off = ifd_off + 2 + 12 * (len(entries) + 1) + 4
        entries.insert(
            2, entry(258, 3, channels, bps_off)
        )
        tail = struct.pack(f"{end}{channels}H", *([8] * channels))
    else:
        entries.insert(2, entry(258, 3, 1, 8))
        tail = b""
    entries.sort(key=lambda e: struct.unpack(end + "H", e[:2])[0])
    ifd = (
        struct.pack(end + "H", len(entries))
        + b"".join(entries)
        + struct.pack(end + "I", 0)
    )
    return magic + struct.pack(end + "I", ifd_off) + pix + ifd + tail


def _gif_lzw_encode(indices: List[int], min_code_size: int) -> bytes:
    """Deterministic GIF LZW stream: literal codes with a CLEAR before
    the table would force a wider code size, so every code stays
    ``min_code_size + 1`` bits — valid (if uncompressed) for any
    decoder, and byte-stable for fixtures."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    limit = (1 << code_size) - 2
    codes: List[int] = [clear]
    next_code = end + 1
    first_after_clear = True
    for k in indices:
        if next_code >= limit:
            codes.append(clear)
            next_code = end + 1
            first_after_clear = True
        codes.append(k)
        if first_after_clear:
            first_after_clear = False
        else:
            next_code += 1
    codes.append(end)
    acc = nbits = 0
    buf = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def encode_avi_rgb(
    width: int, height: int, rgb_frames: Sequence[bytes], fps: int = 25
) -> bytes:
    """Deterministic uncompressed-DIB AVI fixture (BI_RGB 24-bit,
    bottom-up padded BGR '00db' chunks) — counterpart of the DIB path
    in :func:`decode_avi_frames`."""

    stride = (width * 3 + 3) // 4 * 4
    dib_frames: List[bytes] = []
    for px in rgb_frames:
        if len(px) != width * height * 3:
            raise ValueError("frame pixel buffer size mismatch")
        rows = []
        for r in range(height - 1, -1, -1):
            row = bytearray(stride)
            base = r * width * 3
            for k in range(width):
                row[3 * k] = px[base + 3 * k + 2]
                row[3 * k + 1] = px[base + 3 * k + 1]
                row[3 * k + 2] = px[base + 3 * k]
            rows.append(bytes(row))
        dib_frames.append(b"".join(rows))
    n = len(dib_frames)
    avih = struct.pack(
        "<14I", 1_000_000 // max(1, fps), 0, 0, 0x10,
        n, 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"\x00\x00\x00\x00",
        stride * height, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00db", f) for f in dib_frames))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def encode_avi_mjpeg(
    width: int, height: int, jpeg_frames: Sequence[bytes], fps: int = 25
) -> bytes:
    """Deterministic MJPEG AVI fixture: RIFF('AVI ') with a real hdrl
    (avih + one video strl with 'MJPG' strh/strf) and a movi LIST of
    '00dc' chunks — the fixture counterpart of
    :func:`decode_mjpeg_avi`, structurally valid for other readers."""

    n = len(jpeg_frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // max(1, fps),  # dwMicroSecPerFrame
        0, 0, 0x10,               # rate, padding, flags (HASINDEX off)
        n, 0, 1, 0,               # totalframes, initial, streams, bufsize
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(  # BITMAPINFOHEADER
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00dc", f) for f in jpeg_frames))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def encode_apng(
    width: int,
    height: int,
    frames,
    channels: int = 4,
) -> bytes:
    """Deterministic APNG fixture encoder: acTL + per-frame fcTL with
    IDAT (first frame, full canvas required) / fdAT (rest). ``frames``
    is a sequence of (x, y, fw, fh, pixels, dispose, blend); all
    frames share ``channels`` (the IHDR color type governs every
    frame, per spec)."""
    if not frames:
        raise ValueError("APNG needs at least one frame")
    if frames[0][:4] != (0, 0, width, height):
        raise ValueError("first APNG frame must cover the canvas")
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    )
    out += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    for i, (x, y, fw, fh, pixels, dispose, blend) in enumerate(frames):
        stride = fw * channels
        if len(pixels) != stride * fh:
            raise ValueError("frame pixel buffer size mismatch")
        fctl = struct.pack(
            ">IIIIIHHBB", seq, fw, fh, x, y, 1, 10, dispose, blend
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        raw = b"".join(
            b"\x00" + pixels[r * stride : (r + 1) * stride] for r in range(fh)
        )
        comp = zlib.compress(raw, 6)
        if i == 0:
            out += _png_chunk(b"IDAT", comp)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + comp)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def encode_gif_animated(
    width: int,
    height: int,
    frames: Sequence[dict],
    palette: List[tuple],
) -> bytes:
    """Deterministic multi-frame GIF89a: each frame dict has
    ``indices`` (row-major over its rect) plus optional ``x0 y0 w h
    disposal transparent delay`` — the fixture counterpart of
    :func:`decode_gif_frames`."""
    bits = max(1, (len(palette) - 1).bit_length())
    size = 1 << bits
    ct = bytearray()
    for j in range(size):
        r, g, b = palette[j] if j < len(palette) else (0, 0, 0)
        ct += bytes((r, g, b))
    mcs = max(2, bits)
    out = bytearray(
        b"GIF89a" + struct.pack("<HHBBB", width, height, 0x80 | (bits - 1), 0, 0)
    )
    out += ct
    for f in frames:
        x0, y0 = f.get("x0", 0), f.get("y0", 0)
        w, h = f.get("w", width), f.get("h", height)
        transparent = f.get("transparent")
        flags = (f.get("disposal", 0) & 0x07) << 2
        tidx = 0
        if transparent is not None:
            flags |= 0x01
            tidx = transparent
        out += b"\x21\xf9\x04" + bytes([flags]) + struct.pack(
            "<H", f.get("delay", 10)
        ) + bytes([tidx, 0])
        out += b"\x2c" + struct.pack("<HHHHB", x0, y0, w, h, 0)
        lzw = _gif_lzw_encode(list(f["indices"]), mcs)
        out += bytes([mcs])
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def encode_gif(
    width: int, height: int, indices: List[int], palette: List[tuple],
    interlaced: bool = False,
) -> bytes:
    """Deterministic single-frame GIF87a encoder — the fixture/oracle
    counterpart of :func:`decode_gif`. ``palette`` is [(r, g, b), ...]
    (padded to a power of two); ``indices`` index into it row-major
    (display order — ``interlaced=True`` stores the rows in 4-pass
    order and sets the descriptor flag)."""
    if len(indices) != width * height:
        raise ValueError("index buffer size mismatch")
    if interlaced:
        indices = [
            k
            for disp in _gif_interlace_order(height)
            for k in indices[disp * width : (disp + 1) * width]
        ]
    bits = max(1, (len(palette) - 1).bit_length())
    size = 1 << bits
    ct = bytearray()
    for j in range(size):
        r, g, b = palette[j] if j < len(palette) else (0, 0, 0)
        ct += bytes((r, g, b))
    mcs = max(2, bits)
    head = b"GIF87a" + struct.pack(
        "<HHBBB", width, height, 0x80 | (bits - 1), 0, 0
    )
    desc = b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlaced else 0
    )
    lzw = _gif_lzw_encode(indices, mcs)
    blocks = bytearray([mcs])
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return head + bytes(ct) + desc + bytes(blocks) + b"\x3b"


def _int_to_f80(v: int) -> bytes:
    """int → 80-bit extended BE (fixture encoder counterpart)."""
    if v == 0:
        return b"\x00" * 10
    e = v.bit_length() - 1
    mant = v << (63 - e) if e <= 63 else v >> (e - 63)
    return struct.pack(">H", 16383 + e) + mant.to_bytes(8, "big")


def encode_aiff(
    channels: int,
    rate: int,
    samples: Sequence[int],
    bits: int = 16,
    aifc_sowt: bool = False,
) -> bytes:
    """Deterministic AIFF (or AIFF-C/'sowt') fixture encoder — the
    counterpart of :func:`decode_aiff`."""
    if len(samples) % channels:
        raise ValueError("sample count not divisible by channels")
    step = bits // 8
    order = "little" if aifc_sowt else "big"
    payload = b"".join(
        int(s).to_bytes(step, order, signed=True) for s in samples
    )
    comm = struct.pack(
        ">hIh", channels, len(samples) // channels, bits
    ) + _int_to_f80(rate)
    if aifc_sowt:
        comm += b"sowt" + b"\x0e" + b"not compressed" + b"\x00"
    ssnd = struct.pack(">II", 0, 0) + payload

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack(">I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    form_type = b"AIFC" if aifc_sowt else b"AIFF"
    body = form_type
    if aifc_sowt:
        body += chunk(b"FVER", struct.pack(">I", 0xA2805140))
    body += chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + struct.pack(">I", len(body)) + body


def encode_wav(
    samples: List[int], sample_rate: int = 8000, channels: int = 1
) -> bytes:
    """Deterministic 16-bit PCM WAV encoder — the fixture/oracle
    counterpart of :func:`decode_wav`. ``samples`` is interleaved."""
    body = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * channels * 2, channels * 2, 16,
    )
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def encode_id3_mp3(
    tags: dict,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    n_audio_bytes: int = 2000,
) -> bytes:
    """MP3 fixture whose ID3v2.3 tag carries the given text frames
    (latin-1 when possible, else utf-16 with BOM)."""
    frames = bytearray()
    rev = {v: k for k, v in _ID3_TEXT_FRAMES.items() if k != "TDRC"}
    for key, val in tags.items():
        fid = rev[key].encode("ascii")
        try:
            body = b"\x00" + val.encode("latin-1")
        except UnicodeEncodeError:
            body = b"\x01\xfe\xff" + val.encode("utf-16-be")
        frames += fid + len(body).to_bytes(4, "big") + b"\x00\x00" + body
    sz = len(frames)
    tag = b"ID3\x03\x00\x00" + bytes(
        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
    ) + bytes(frames)
    br_idx = _MP3_BITRATES[1].index(bitrate_kbps)
    sr_idx = _MP3_RATES[1].index(sample_rate)
    hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00])
    return tag + hdr + b"\x00" * max(0, n_audio_bytes - 4)


def encode_mp3_header(
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    mono: bool = False,
    n_audio_bytes: int = 4000,
    id3_payload: int = 0,
    vbr_frames: int = 0,
    vbr_tag: str = "Xing",
) -> bytes:
    """Deterministic MP3 fixture: optional ID3v2 tag + one valid
    MPEG-1 Layer III frame header + zero filler (header-level facts
    only — not decodable audio). With ``vbr_frames`` > 0 a Xing/Info
    tag (after the MPEG1 side info) or a VBRI tag (fixed offset 32)
    carries the frame count, as real VBR encoders write it."""
    br_idx = _MP3_BITRATES[1].index(bitrate_kbps)
    sr_idx = _MP3_RATES[1].index(sample_rate)
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG1 Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            0xC0 if mono else 0x00,
        ]
    )
    body = bytearray(hdr)
    if vbr_frames:
        if vbr_tag in ("Xing", "Info"):
            side = 17 if mono else 32
            body += b"\x00" * side
            body += vbr_tag.encode("ascii")
            body += struct.pack(">I", 0x01)  # flags: frames present
            body += struct.pack(">I", vbr_frames)
        elif vbr_tag == "VBRI":
            body += b"\x00" * 32
            body += b"VBRI"
            body += struct.pack(">H", 1)  # version
            body += struct.pack(">H", 0)  # delay
            body += struct.pack(">H", 0)  # quality
            body += struct.pack(">I", n_audio_bytes)  # stream bytes
            body += struct.pack(">I", vbr_frames)
        else:
            raise ValueError(f"unknown vbr_tag {vbr_tag!r}")
    tag = b""
    if id3_payload:
        sz = id3_payload
        tag = b"ID3\x04\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        ) + b"\x00" * sz
    return tag + bytes(body) + b"\x00" * max(0, n_audio_bytes - len(body))


def encode_mp4_header(
    duration_ms: int,
    width: int,
    height: int,
    codecs: Sequence[str] = ("avc1", "mp4a"),
) -> bytes:
    """Minimal ISO-BMFF fixture: ftyp + moov(mvhd + one trak per codec
    with tkhd dims on the first, stsd fourcc) — header facts only."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    timescale = 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", timescale, duration_ms)
        + b"\x00" * 80,
    )
    traks = b""
    for i, cc in enumerate(codecs):
        w = width if i == 0 else 0
        h = height if i == 0 else 0
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">III", 0, 0, i + 1)
            + b"\x00" * 52
            + struct.pack(">II", w << 16, h << 16),
        )
        entry = struct.pack(">I", 16) + cc.encode("ascii") + b"\x00" * 8
        stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        stbl = box(b"stbl", stsd)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", minf)
        traks += box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2avc1mp41")
    return ftyp + moov


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Deterministic PNG encoder (filter 0, fixed zlib level) — the
    fixture/oracle counterpart of :func:`decode_png`."""
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer size mismatch")
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_corrupt_idat() -> bytes:
    """2×2 RGB PNG whose IDAT is not a valid zlib stream: inflating it
    raises ``zlib.error`` inside the PNG decoder."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"\x78\x9c\xff\xff\xff garbage")
        + _png_chunk(b"IEND", b"")
    )


def encode_jpeg_zero_sampling() -> bytes:
    """8×8 gray baseline JPEG whose SOF sampling-factor byte (byte 82) is
    0: the MCU geometry divides by the zero factor."""
    blob = bytearray(encode_jpeg_blocks(8, 8, [[1] + [0] * 63]))
    blob[82] = 0x00
    return bytes(blob)


def _png_pack_row(samples, bitd: int) -> bytes:
    """Flat sample list → one packed scanline (MSB-first for sub-byte)."""
    if bitd == 8:
        return bytes(samples)
    per_byte = 8 // bitd
    out = bytearray((len(samples) + per_byte - 1) // per_byte)
    for i, v in enumerate(samples):
        out[i // per_byte] |= v << (8 - bitd * (i % per_byte + 1))
    return bytes(out)


def encode_png_ex(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    interlace: bool = False,
    palette: Optional[bytes] = None,
    bit_depth: int = 8,
    trns: Optional[bytes] = None,
) -> bytes:
    """Extended deterministic PNG encoder — the fixture counterpart of
    the full :func:`decode_png` matrix. With ``palette`` set, ``pixels``
    is one index per pixel (colortype 3, packed at ``bit_depth``);
    otherwise 8-bit gray/GA/RGB/RGBA as in :func:`encode_png`. Adam7
    interlacing reorders rows/columns into the 7 spec passes (filter 0
    throughout, fixed zlib level — byte-reproducible)."""
    if palette is not None:
        ctype, spp = 3, 1
        if bit_depth not in (1, 2, 4, 8):
            raise ValueError("palette bit depth must be 1/2/4/8")
    else:
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
        spp = channels
        if bit_depth != 8:
            raise ValueError("non-palette encode_png_ex is 8-bit only")
    if len(pixels) != width * height * spp:
        raise ValueError("pixel buffer size mismatch")

    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for py in range(ph):
            y = y0 + py * dy
            row = []
            for px in range(pw):
                base = (y * width + (x0 + px * dx)) * spp
                row.extend(pixels[base : base + spp])
            raw += b"\x00" + _png_pack_row(row, bit_depth)

    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, ctype, 0, 0, 1 if interlace else 0
    )
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(b"PLTE", palette)
        if trns is not None:
            out += _png_chunk(b"tRNS", trns)
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + _png_chunk(
        b"IEND", b""
    )


def encode_gif_header(width: int, height: int) -> bytes:
    """Minimal GIF89a header+trailer (enough for header-level metadata)."""
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"


def encode_webp_header(width: int, height: int) -> bytes:
    """Minimal lossy-WebP container (VP8 keyframe header carrying the
    dimensions — enough for header-level metadata, not decodable)."""
    frame = b"\x00" * 3 + b"\x9d\x01\x2a" + struct.pack("<HH", width, height)
    vp8 = b"VP8 " + struct.pack("<I", len(frame)) + frame
    return b"RIFF" + struct.pack("<I", 4 + len(vp8)) + b"WEBP" + vp8


def encode_jpeg_header(width: int, height: int) -> bytes:
    """Minimal JFIF stream with an SOF0 carrying the dimensions."""
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


# ---------------------------------------------------------------------------
# Archives (sources/archives.py) and WARC (sources/warc.py)


def build_tar(members: List[Tuple[str, bytes]], gz: bool = False) -> bytes:
    """tar (optionally gzip, all timestamps pinned to 0 — the gzip
    header mtime included, via an explicit GzipFile wrap; tarfile's
    own 'w:gz' stamps wall-clock time into the member stream)."""
    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            ti.mtime = 0
            ti.mode = 0o644
            tf.addfile(ti, io.BytesIO(data))
    raw = buf.getvalue()
    if not gz:
        return raw
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", compresslevel=6, mtime=0) as g:
        g.write(raw)
    return out.getvalue()


def build_zip(members: List[Tuple[str, bytes]]) -> bytes:
    """zip with pinned timestamps from (name, data)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zi.external_attr = 0o644 << 16
            z.writestr(zi, data)
    return buf.getvalue()


def build_warc(
    records: List[Tuple[str, str, bytes]],
    compress: bool = False,
    chunked: bool = False,
) -> bytes:
    """Deterministic WARC/1.0 bytes from (uri, iso_date, html_body)
    triples — the fixture counterpart of ``sources/warc.parse_warc_records``.
    Each response record wraps the body in a minimal HTTP/1.1 200.

    ``compress=True`` emits the Common-Crawl layout: each record its
    own gzip member, members concatenated (mtime pinned to 0 and OS
    byte pinned so the bytes are reproducible across hosts).
    ``chunked=True`` stores the HTTP body with chunked
    transfer-coding (split into 7-byte chunks to exercise multi-chunk
    reassembly)."""
    out = bytearray()
    for uri, date, body in records:
        if chunked:
            chunks = bytearray()
            for i in range(0, len(body), 7):
                piece = body[i : i + 7]
                chunks += f"{len(piece):x}\r\n".encode() + piece + b"\r\n"
            chunks += b"0\r\n\r\n"
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Transfer-Encoding: chunked\r\n\r\n"
                + bytes(chunks)
            )
        else:
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
                + body
            )
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(http)}\r\n"
            "\r\n"
        ).encode("latin-1")
        record = hdr + http + b"\r\n\r\n"
        if compress:
            gz = gzip.GzipFile(
                fileobj=_Buf(out), mode="wb", mtime=0, filename=""
            )
            gz.write(record)
            gz.close()
        else:
            out += record
    return bytes(out)


class _Buf:
    """Minimal write-sink adapter so gzip.GzipFile appends straight
    into the shared bytearray (one gzip member per record)."""

    def __init__(self, buf: bytearray) -> None:
        self._buf = buf

    def write(self, b: bytes) -> int:
        self._buf += b
        return len(b)

    def flush(self) -> None:  # gzip calls this on close
        pass


# ---------------------------------------------------------------------------
# Match-family sweep (workflow/interpreter.py): seeded workflows that nest
# the eight match ops up to three deep, seeded documents with tables,
# key-value lines and sections, and one digest per workflow over every
# document's full result. ``tools/make_goldens.py`` writes the digests to
# ``fixtures/golden/match_sweep.csv``; ``tests/test_golden.py`` recomputes
# them, so a change to any triple, stat, score, dump text, save-as request
# or error message of any run shows.

SWEEP_WORKFLOWS = 200
SWEEP_DOCUMENTS = 60
SWEEP_SEED = 17

_SWEEP_WORDS = ("alpha", "beta", "Gamma", "delta", "x1", "y22", "Omega", "zeta9")

# Patterns that never match the empty string: ``sequence-of`` takes only
# these, because a zero-length lexer match does not move its cursor.
_SWEEP_PATTERNS = (
    r"<table>(.*?)</table>",
    r"<tr>(.*?)</tr>",
    r"<t[dh]>(.*?)</t[dh]>",
    r"(\w+): ([^\n]*)",
    r"== (\w+) ==\n([^=]*)",
    r"\b([a-z]+)(\d*)\b",
    r"(\d+)",
    r"([A-Z]\w*)",
    r"(alpha|beta)",
    r"\w+",
    r"(qq+)",
)
_SWEEP_EMPTY = (r"(\d*)", r"(y?)")
_SWEEP_ROWS = (r"<table>(.*?)</table>", r"<tr>(.*?)</tr>")
_SWEEP_CELLS = (r"<t[dh]>(.*?)</t[dh]>", r"<td>(.*?)</td>", r"(\w+)")


def match_sweep_documents(n: int, seed: int) -> List[str]:
    """``n`` short documents mixing tables, ``Key: value`` lines,
    ``== Title ==`` sections and free words."""
    rng = random.Random(seed)

    def words(k):
        return " ".join(rng.choice(_SWEEP_WORDS) for _ in range(k))

    docs = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(1, 4)):
            kind = rng.randrange(4)
            if kind == 0:
                rows = []
                for r in range(rng.randint(1, 4)):
                    tag = "th" if r == 0 and rng.random() < 0.5 else "td"
                    cells = "".join(
                        f"<{tag}>{words(rng.randint(0, 2))}</{tag}>"
                        for _ in range(rng.randint(1, 4))
                    )
                    rows.append(f"<tr>{cells}</tr>")
                parts.append("<table>" + "".join(rows) + "</table>")
            elif kind == 1:
                parts.append("\n".join(
                    f"{rng.choice(_SWEEP_WORDS)}: {words(rng.randint(1, 3))}"
                    for _ in range(rng.randint(1, 3))
                ))
            elif kind == 2:
                parts.append(f"== {rng.choice(_SWEEP_WORDS)} ==\n{words(rng.randint(1, 5))}")
            else:
                parts.append(f"{words(rng.randint(1, 6))} {rng.randint(0, 999)}")
        docs.append("\n".join(parts))
    return docs


class _SweepWorkflow:
    """One seeded workflow; ``scope`` holds the match ids a body may name."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.n_ids = 0

    def ident(self, scope: List[str]) -> Optional[str]:
        if self.rng.random() < 0.15:
            return None
        self.n_ids += 1
        scope.append(f"m{self.n_ids}")
        return scope[-1]

    def ref(self, scope: List[str]) -> str:
        """A template reference a body may expand: mostly to a match in
        scope, sometimes to a missing group, an unset id or a variable."""
        rng = self.rng
        if not scope or rng.random() < 0.1:
            return rng.choice(("@{v}", "@{?nope.1}", "@{m1_count}", "@{v}", "@{nope.1}"))
        m = rng.choice(scope)
        if rng.random() < 0.05:
            return f"@{{{m}.2}}"
        return rng.choice((f"@{{{m}.1}}", f"@{{{m}.0}}", f"@{{{m}_count}}"))

    def iri_ref(self, scope: List[str]) -> str:
        """A reference an IRI can carry: ``:iri`` keeps only [A-Za-z0-9_-]."""
        if not scope or self.rng.random() < 0.1:
            return "@{n_count}"
        m = self.rng.choice(scope)
        return self.rng.choice((f"@{{{m}.1:iri}}", f"@{{{m}_count}}"))

    def body(self, scope: List[str], depth: int) -> list:
        rng = self.rng
        steps = []
        for _ in range(rng.randint(1, 3)):
            k = rng.randrange(12)
            if k < 3 and depth < 3:
                steps.append(self.op(list(scope), depth + 1))
            elif k < 6:
                steps.append({
                    "subject": f"http://s.example/{self.iri_ref(scope)}",
                    "predicate": f"http://p.example/{rng.choice('abc')}{depth}",
                    "object": rng.choice(("^", "")) + self.ref(scope),
                })
            elif k == 6:
                steps.append({"set": "v", "to": self.ref(scope)})
            elif k == 7:
                steps.append({"replace": rng.choice((r"\d", "a", "<td>")), "with": "_"})
            elif k == 8 and scope:
                steps.append({"ifdef": f"{rng.choice(scope)}.1", "do": self.body(scope, 3)})
            elif k == 9:
                steps.append({"break": 1})
            elif k == 10:
                steps.append(rng.choice((
                    {"dump": "_", "file": f"f-{self.iri_ref(scope)}"},
                    {"save-as": f"s-{self.iri_ref(scope)}"},
                )))
            else:
                steps.append({"pass": 1})
        return steps

    def pattern(self, empty_ok: bool = True) -> str:
        return self.rng.choice(_SWEEP_PATTERNS + (_SWEEP_EMPTY if empty_ok else ()))

    def flags(self, step: dict) -> dict:
        if self.rng.random() < 0.2:
            step["flags"] = self.rng.choice(("I", "M", "I M", "I", "M", "I M", "BOGUS"))
        return step

    def op(self, scope: List[str], depth: int) -> dict:
        rng = self.rng
        kind = rng.randrange(8)
        if kind == 0:
            pattern = self.pattern()
            if rng.random() < 0.25:
                pattern = [self.pattern(), self.pattern()]
            step = {"match": pattern}
        elif kind == 1:
            step = {"within": self.pattern()}
            if rng.random() < 0.3:
                step["group"] = rng.choice((1, 2))
        elif kind in (2, 3):
            kw = "match-every" if kind == 2 else "within-every"
            step = {kw: rng.choice(_SWEEP_ROWS + _SWEEP_CELLS) if depth > 1 else self.pattern()}
            if kind == 3 and rng.random() < 0.3:
                step["group"] = rng.choice((1, 2))
        elif kind == 4:
            text = self.ref(scope) if scope and rng.random() < 0.7 else "alpha 12 <td>beta</td>"
            return {"with": text, "do": self.body(scope, depth)}
        elif kind == 5:
            return self.sequence_of(scope, depth)
        elif kind == 6:
            return self.match_1(scope, depth)
        else:
            return self.match_dimensions(scope, depth)
        ident = self.ident(scope)
        if ident is not None:
            step["as"] = ident
        step["do"] = self.body(scope, depth)
        if kind in (2, 3) and rng.random() < 0.3:
            step["first"] = self.body(scope, depth)
        return self.flags(step)

    def sequence_of(self, scope: List[str], depth: int) -> dict:
        rng = self.rng
        entries = []
        for _ in range(rng.randint(1, 3)):
            inner = list(scope)
            entry = {"match": self.pattern(empty_ok=False)}
            if rng.random() < 0.15:
                entry["match"] = [self.pattern(empty_ok=False), self.pattern(empty_ok=False)]
            ident = self.ident(inner)
            if ident is not None:
                entry["as"] = ident
            if rng.random() < 0.3:
                entry["within-group"] = rng.choice((1, 2))
            entry["do"] = self.body(inner, depth)
            entries.append(self.flags(entry))
        mode = "alternatives" if rng.random() < 0.6 else "steps"
        return {"sequence-of": f"seq{depth}", mode: entries}

    def match_1(self, scope: List[str], depth: int) -> dict:
        rng = self.rng
        step = {"match-1": rng.choice(_SWEEP_ROWS), "match-2": rng.choice(_SWEEP_CELLS)}
        for name in ("as-1", "as-2", "header-as", "leading-as"):
            if rng.random() < 0.7:
                step[name] = self.ident(scope) or f"h{depth}"
        step["do"] = self.body(scope, depth)
        for name in ("first", "leading"):
            if rng.random() < 0.4:
                step[name] = self.body(scope, depth)
        return self.flags(step)

    def match_dimensions(self, scope: List[str], depth: int) -> dict:
        rng = self.rng
        patterns = list(rng.choice((
            (r"<tr>(.*?)</tr>", r"<t[dh]>(.*?)</t[dh]>"),
            (r"<table>(.*?)</table>", r"<tr>(.*?)</tr>", r"<t[dh]>(.*?)</t[dh]>"),
            (r"<tr>(.*?)</tr>", r"(\w+)"),
        )))
        step: Dict[str, Any] = {"match-dimensions": patterns}
        cell = self.ident(scope)
        if cell is not None:
            step["as"] = cell
        if rng.random() < 0.8:
            step["dimensions"] = [f"d{depth}{i}" for i in range(len(patterns))]
        if rng.random() < 0.5:
            step["pre"] = [{"pass": 1}]
            if rng.random() < 0.7:
                step["pre"].append({
                    "tag-dimension": rng.randint(1, len(patterns)),
                    "at": rng.randint(1, 2),
                    "as": "hdr",
                })
        step["do"] = self.body(scope, depth)
        n = len(patterns)
        for _ in range(rng.randint(0, 2)):
            key = "-".join(rng.choice(("1", "2", "*", "hdr")) for _ in range(n))
            step[f"do-{key}"] = self.body(scope, depth)
        return self.flags(step)


def match_sweep_workflows(n: int, seed: int) -> List[Tuple[str, str]]:
    """``n`` seeded ``(name, YAML source)`` workflows of one to three
    match-family ops whose bodies nest more of them."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        gen = _SweepWorkflow(rng)
        plan = [gen.op([], 1) for _ in range(rng.randint(1, 3))]
        out.append((f"sweep_{i:03d}", yaml.safe_dump(plan, sort_keys=False)))
    return out


def _result_fields(r) -> bytes:
    """Every field of one run's result, as the sweep digests hash it."""
    return repr((
        r.triples, r.no_matches, r.no_triples, r.total_match_len, repr(r.score),
        sorted(r.texts.items()), r.saved_as, r.error,
    )).encode()


def match_sweep_digests() -> List[Tuple[str, int, int, str]]:
    """``(workflow, runs, error runs, sha256)`` per sweep workflow; the
    hash covers, per document in order, the triples, ``no_matches``,
    ``no_triples``, ``total_match_len``, the score's repr, the dump
    texts, the save-as requests and the error."""
    from cmc_knowledge_graph_text2ttl_spark.workflow import compile_workflow, run_document

    docs = match_sweep_documents(SWEEP_DOCUMENTS, SWEEP_SEED)
    rows = []
    for i, (name, source) in enumerate(match_sweep_workflows(SWEEP_WORKFLOWS, SWEEP_SEED)):
        program = compile_workflow(source, name, index=i)
        h = hashlib.sha256()
        errors = 0
        for text in docs:
            r = run_document(text, program)
            errors += r.error is not None
            h.update(_result_fields(r))
        rows.append((name, len(docs), errors, h.hexdigest()))
    return rows


# ---------------------------------------------------------------------------
# Emission-family sweep (workflow/interpreter.py): seeded workflows whose
# subject/predicate/object steps nest ``predicates:``/``objects:`` lists up
# to three deep, with every object-spec form, ``inverse:``, declared and
# undeclared prefixes, the ``:iri``/``:trim``/``:norm`` template functions
# and, now and then, an entry the interpreter rejects. The emissions run in
# ``match-every`` bodies over the match sweep's kind of documents.
# ``tools/make_goldens.py`` writes one digest per workflow, its compile
# warnings or compile error included, to
# ``fixtures/golden/emission_sweep.csv``; ``tests/test_golden.py``
# recomputes them.

EMISSION_WORKFLOWS = 300
EMISSION_SEED = 18

# The match-every patterns around the emissions, with their group counts.
_EMISSION_SCANS = (
    (r"(\w+): ([^\n]*)", 2),
    (r"\b([a-z]+)(\d*)\b", 2),
    (r"(\d+)", 1),
    (r"([A-Z]\w*)", 1),
    (r"<t[dh]>(.*?)</t[dh]>", 1),
)


class _EmissionWorkflow:
    """One seeded workflow; its emissions expand the match ``m``, which
    has ``groups`` groups."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.groups = 1

    def odd(self, p: float = 0.02) -> bool:
        """Whether to write, here, something the interpreter rejects."""
        return self.rng.random() < p

    def ref(self) -> str:
        """A literal template over ``m``."""
        g = self.rng.randint(1, self.groups)
        return self.rng.choice((
            f"@{{m.{g}}}", f"@{{m.{g}:trim}}", f"@{{m.{g}:norm}}", f"@{{m.{g}:iri}}",
            "@{m_count}", "@{m.0}",
        ))

    def node(self, role: str) -> str:
        """A subject, predicate, inverse or IRI-object template."""
        rng = self.rng
        if self.odd():
            return rng.choice((f"zz:{role}", f"http://x.example/{role} @{{m.1}}", "v:v"))
        return rng.choice((
            f"ex:{role}-@{{m.1:iri}}", f"ex:{role}{rng.randint(0, 2)}",
            f"http://{role}.example/@{{m_count}}", f"http://{role}.example/@{{m.1:iri}}",
            f" ex:{role} ",
        ))

    def obj(self, iri: bool) -> Any:
        """An object spec; ``iri`` asks for an IRI object, as ``inverse:``
        needs one."""
        rng = self.rng
        if iri and not self.odd(0.2):
            return {"iri": self.node("o")}
        k = rng.randrange(10)
        if k < 4:
            return rng.choice((
                "^" + self.ref(), self.ref(), f"v-{self.ref()}", "12", "-7", "+5", "2.50",
                "1e3", " True ", "false", "^TRUE", "^12", "plain words",
            ))
        if k < 8:
            return self.spec()
        if self.odd(0.1):
            return rng.choice((
                [{"match": "qq+", "do": [{"pass": 1}]}],  # no step succeeds
                [{"exec": "w = 1"}],
                [{"match": "(unclosed", "do": [{"pass": 1}]}],
            ))
        return rng.choice((
            [{"echo": self.ref()}],
            [{"match": r"(\d+)", "as": "k", "do": [{"pass": 1}]}, {"echo": "none"}],
            [{"match": "qq+", "do": [{"pass": 1}]},
             {"set": "w", "to": rng.choice((5, 2.5, True, "7", ["a"]))}],
            [{"set": "w", "to": rng.choice(("@{m.1}", 3, False))}],
        ))

    def spec(self) -> dict:
        """A mapping object spec: one value attribute, with lang:, format:
        or apply: where they apply."""
        rng = self.rng
        bad = self.odd(0.15)
        kind = rng.choice(("text", "text", "iri", "integer", "float", "bool", "date", "datetime"))
        if kind == "text":
            spec: Dict[str, Any] = {"text": rng.choice((self.ref(), "", "plain"))}
            if rng.random() < 0.4:
                spec["lang"] = rng.choice(("en", "en-GB", "de", ""))
        elif kind == "iri":
            spec = {"iri": "" if bad else self.node("o")}
        elif kind == "integer":
            spec = {"integer": rng.choice(("", "x@{m_count}", "4.5") if bad else ("@{m_count}", "42", " 7 "))}
        elif kind == "float":
            spec = {"float": "x" if bad else rng.choice(("@{m_count}", "2.5", "", " ", "1e3"))}
        elif kind == "bool":
            spec = {"bool": rng.choice((self.ref(), "", "0", "none", "yes"))}
        elif kind == "date":
            spec = {"text": "", "date": "2024-03-02"}
            if bad:
                spec["date"] = rng.choice(("today", "2024-13-40", "02.03.2024"))
            elif rng.random() < 0.3:
                spec.update(date="02.03.2024", format="%d.%m.%Y")
            if self.odd(0.1):
                spec["format"] = "%Y"
        else:
            spec = {"text": "", "datetime": "2024-03-02 04:05", "format": "%Y-%m-%d %H:%M"}
            if bad:
                spec["datetime"] = rng.choice(("now", "03/02/24", "2024-03-02"))
                if spec["datetime"] == "2024-03-02":
                    del spec["format"]
        if rng.random() < 0.1:
            spec["apply"] = "m"  # read, never used
        if self.odd():  # a second value attribute
            spec["integer" if kind != "integer" else "float"] = "1"
        if self.odd():  # no value attribute
            spec.pop("text", None)
            spec.pop(kind, None)
            spec["date"] = "2024-03-02"
        if self.odd():  # a non-string attribute value
            spec[kind] = rng.choice((5, ["a"]))
        if self.odd(0.01):  # a template is not a language tag: a compile error
            spec["lang"] = "@{m.1}"
        return spec

    def tree(self, depth: int, subject: bool, predicate: bool, inverse: bool) -> Any:
        """A triple step at ``depth``; the other arguments say whether its
        scope gives it a subject, a predicate and an inverse."""
        rng = self.rng
        if depth > 1 and self.odd(0.03):
            return rng.choice(("a string entry", 7, {"pass": 1}, {"echo": "x"}))
        shape = rng.choice(("object", "object", "objects", "predicates") if depth <= 3 else ("object",))
        if subject and (predicate or shape == "predicates"):
            shape = "object"  # a list alone names no operation: a compile error
        step: Dict[str, Any] = {}
        if subject == self.odd():  # odd: a missing subject or a nested redefinition
            step["subject"] = self.node("s")
        if (shape != "predicates" and not predicate) != self.odd():
            step["predicate"] = self.node("p")
        if not step:
            shape = "object"
        if "predicate" in step and rng.random() < 0.25 or self.odd():
            step["inverse"] = self.node("i")
        inverse = inverse or "inverse" in step
        if shape == "object":
            step["object"] = self.obj(inverse)
            if self.odd():
                step["object"] = rng.choice(("", 0))  # falsy: nothing to emit
        elif shape == "objects":
            step["objects"] = [
                self.tree(depth + 1, True, "predicate" in step, "inverse" in step)
                for _ in range(rng.randint(1, 3))
            ]
        else:
            step["predicates"] = [
                self.tree(depth + 1, "subject" in step, False, False)
                for _ in range(rng.randint(1, 3))
            ]
        if self.odd(0.05):  # an object next to an object list or a predicate list
            step["object"] = self.obj(inverse)
            if shape == "predicates" and rng.random() < 0.5:
                step.setdefault("predicate", self.node("p"))
        if self.odd():  # a non-string or non-list attribute value
            name = rng.choice(("subject", "predicate", "inverse", "objects", "predicates"))
            step[name] = rng.choice((5, "x", {"a": 1}))
        return step

    def workflow(self) -> list:
        rng = self.rng
        plan: list = []
        if rng.random() < 0.95:
            plan.append({"prefix": "ex", "iri": "http://ex.example/"})
        if rng.random() < 0.5:
            plan.append({"prefix": "v", "iri": "http://v.example/v#"})
        for _ in range(rng.randint(1, 2)):
            pattern, self.groups = rng.choice(_EMISSION_SCANS)
            body = [self.tree(1, False, False, False) for _ in range(rng.randint(1, 3))]
            plan.append({"match-every": pattern, "as": "m", "do": body})
        return plan


def emission_sweep_workflows(n: int, seed: int) -> List[Tuple[str, str]]:
    """``n`` seeded ``(name, YAML source)`` emission workflows."""
    rng = random.Random(seed)
    return [
        (f"emit_{i:03d}", yaml.safe_dump(_EmissionWorkflow(rng).workflow(), sort_keys=False))
        for i in range(n)
    ]


def _sweep_results(workflows, docs, **run_kw) -> Iterator[Tuple[str, Any, list]]:
    """``(workflow, outcome, results)`` per ``(name, source)`` workflow:
    the outcome is the compile error's text or the compile warnings, the
    results one ``run_document(text, program, **run_kw)`` per document
    (none when the compile failed)."""
    from cmc_knowledge_graph_text2ttl_spark.core.errors import WorkflowCompileError
    from cmc_knowledge_graph_text2ttl_spark.workflow import compile_workflow, run_document

    for i, (name, source) in enumerate(workflows):
        try:
            program = compile_workflow(source, name, index=i)
        except WorkflowCompileError as ex:
            yield name, str(ex), []
            continue
        yield name, program.warnings, [run_document(text, program, **run_kw) for text in docs]


def emission_sweep_results() -> Iterator[Tuple[str, Any, list]]:
    """:func:`_sweep_results` of the emission sweep workflows over the
    match sweep's kind of documents."""
    return _sweep_results(emission_sweep_workflows(EMISSION_WORKFLOWS, EMISSION_SEED),
                          match_sweep_documents(SWEEP_DOCUMENTS, EMISSION_SEED))


def sweep_digests(sweep: Iterable[Tuple[str, Any, list]], fields=_result_fields) -> List[Tuple[str, int, int, str]]:
    """``(workflow, runs, error runs, sha256)`` per workflow of ``sweep``,
    which :func:`_sweep_results` yields; the hash covers the compile
    outcome and then ``fields`` of each run, as in
    :func:`match_sweep_digests`."""
    rows = []
    for name, outcome, results in sweep:
        h = hashlib.sha256(repr(outcome).encode())
        for r in results:
            h.update(fields(r))
        rows.append((name, len(results), sum(r.error is not None for r in results), h.hexdigest()))
    return rows


# ---------------------------------------------------------------------------
# Control-family sweep (workflow/interpreter.py): seeded workflows over the
# ops that expand templates — variables, conditionals, procedures, ``with``,
# diagnostics, mappings, ``tag-dimension`` and ``select`` — whose template
# attributes draw from constants, variable and match refs (numbered, named,
# optional, undefined), nested refs, a self-reproducing pair of variables
# that hits the rewrite cap, known and unknown ``:func``s, ``@{`` with no
# valid ref, and YAML values that are not strings. ``tools/make_goldens.py``
# writes one digest per workflow, over its compile outcome and every result
# field and log line of each run, to ``fixtures/golden/control_sweep.csv``;
# ``tests/test_golden.py`` recomputes them.

CONTROL_WORKFLOWS = 150
CONTROL_DOCUMENTS = 40
CONTROL_SEED = 19

# The graph ``select:`` queries: one row per sweep word.
_CONTROL_GRAPH = "\n".join(
    f"<http://w.example/{w}> <http://w.example/k> "
    + (f'"{w.upper()}" .' if i % 2 else f"<http://w.example/class_{i}> .")
    for i, w in enumerate(_SWEEP_WORDS)
)

# The match-every scans around the bodies, with a named group or not.
_CONTROL_SCANS = (
    r"(?P<word>[a-z]+)(\d*)",
    r"(\w+): (?P<word>[^\n]*)",
    r"<t[dh]>(.*?)</t[dh]>",
    r"([A-Z]\w*)",
)


class _ControlWorkflow:
    """One seeded workflow; its bodies run inside a ``match-every`` that
    saves the match ``m``."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.loops = 0  # for-each bodies open: they must not grow a list they iterate
        self.in_procedure = False  # a procedure body calls none: no recursion

    def odd(self, p: float = 0.04) -> bool:
        """Whether to write, here, something the interpreter rejects."""
        return self.rng.random() < p

    def template(self) -> str:
        return self.rng.choice((
            "plain", "", "v=@{v}", "@{w}", "@{m.1}", "@{m.2}", "@{?m.2}", "@{m.0}",
            "@{m.word}", "@{?q.1}", "@{m_count}", "@{nope}", "@{?nope}", "@{doc}",
            "@{a-@{b}}", "x-@{a-@{b}:iri}", "@{m.1:iri}", "@{v:trim}", "@{m.0:norm}",
            "@{v:upper}", "@{ v}", "a@{b", "@{}", "@{1a}", "@{3}", "@{lst}", "@{rv}",
            "[@{m.1}|@{mv}]", "@{k}", "@{it}-@{it_count}",
        ))

    def value(self) -> Any:
        """A template, or now and then a YAML value that is not a string."""
        if self.odd(0.1):
            # a container holds no ref: "@{v}" in v's own value would grow
            # without bound until the rewrite cap
            return self.rng.choice((5, 2.5, True, False, ["a", "@{"], {"k": "@{"}, None))
        if self.odd(0.01):
            return "@{q.1}"  # an undefined match: an error
        return self.template()

    def body(self, depth: int) -> list:
        return [self.step(depth) for _ in range(self.rng.randint(1, 3))]

    def nested(self, depth: int) -> list:
        return self.body(depth + 1) if depth < 3 else [{"echo": self.template()}]

    def step(self, depth: int) -> dict:
        rng = self.rng
        k = rng.randrange(16)
        if k == 0:
            step: Dict[str, Any] = {"set": rng.choice(("v", "w", "b", "a-@{b}", "v@{m_count}", "@{nope}"))}
            if self.odd(0.15):
                step["eval"] = rng.choice(("len('@{v}')", "'@{m.1}'.upper()", "1/0", "'@' + '{w}'"))
            elif rng.random() < 0.2:
                step["to"] = rng.choice(("1", "2", "alpha"))
            else:
                step["to"] = self.value()
            return step
        if k == 1:
            return {"clear": rng.choice(("v", "lst", "@{b}", "w"))}
        if k == 2:
            # an element that names the list would double it on every append
            name = "acc" if self.loops else rng.choice(("lst", "lst", "v", "l@{b}"))
            element = self.value()
            if isinstance(element, str) and ("@{v" in element or "@{lst" in element):
                element = "e-@{m_count}"
            return {"append": name, "element": element}
        if k == 3:
            self.loops += 1
            step = {"for-each": rng.choice(("lst", "lst", "v", "nolist")), "do": self.nested(depth)}
            self.loops -= 1
            if rng.random() < 0.8:
                step["as"] = "it"
            return step
        if k == 4:
            cond = rng.choice((
                "'@{v}' == 'None'", "@{m_count} > 1", "'@{m.1}'.startswith('a')",
                "len('@{?m.2}') == 0", "@{nope} is None", "'@{a-@{b}}' != ''", "@{m.1}", "1 +",
            ))
            return {"if": self.value() if self.odd(0.1) else cond, "do": self.nested(depth)}
        if k == 5:
            cond = rng.choice(("v", "m.1", "m.2", "q.1", "@{b}", "lst", "a-@{b}", "rv"))
            return {rng.choice(("ifdef", "ifndef")): self.value() if self.odd(0.1) else cond,
                    "do": self.nested(depth)}
        if k == 6 and not self.in_procedure:
            step = {"call": rng.choice(("p1", "p1", "p2"))}
            if rng.random() < 0.8:
                step["with"] = {
                    "x": self.value(),
                    rng.choice(("y", "xm", "xq")): rng.choice(("~m", "~", self.template())),
                }
            if rng.random() < 0.5:
                step["return"] = {rng.choice(("x", "v", "z")): "rv"}
            return step
        if k == 7:
            return {"with": self.value(), "do": self.nested(depth)}
        if k in (8, 9):
            return {"echo": self.template() if not self.odd() else 7}
        if k == 10:
            step = {"dump": rng.choice(("_", "ct", self.template()))}
            if rng.random() < 0.6:
                step["file"] = "f-" + self.template()
            return step
        if k == 11:
            return {"save-as": rng.choice((
                self.value(), self.value(), {"file": self.template()}, {"bucket": self.template()},
            )) if not self.odd() else {}}
        if k == 12:
            value = rng.choice(("@{m.1}", "@{m.0}", "@{m.word}", self.template()))
            step = {"map": value, "apply": "mp" if not self.odd() else "nomap"}
            if rng.random() < 0.8:
                step["to"] = "mv"
            return step
        if k == 13:
            return self.dimensions(depth)
        if k == 14:
            return self.select(depth)
        return {"subject": "http://s.example/@{m_count}", "predicate": "http://p.example/v",
                "object": rng.choice(("^" + self.template(), self.template(), {"text": self.template()}))}

    def dimensions(self, depth: int) -> dict:
        rng = self.rng
        step: Dict[str, Any] = {
            "match-dimensions": [r"<tr>(.*?)</tr>", r"<t[dh]>(.*?)</t[dh]>"],
            "dimensions": ["row", "col"],
            "as": "cell",
            "pre": [{
                "tag-dimension": rng.choice((1, 2, "2", "@{b}", "@{nope}", [1], 2.0)),
                "at": rng.choice((1, 2, "1", "@{b}", "@{m_count}", 0, True)),
                "as": "hdr",
            }],
            "do": [{"echo": "c@{row}.@{col}=@{cell.1}"}],
            "do-*-hdr": self.nested(depth),
        }
        if self.odd(0.1):
            del step["dimensions"]  # pre: without dimensions: raises
        return step

    def select(self, depth: int) -> dict:
        rng = self.rng
        step: Dict[str, Any] = {
            "select": rng.choice(("k", "k s")),
            "from": "words" if not self.odd() else "nograph",
            "where": rng.choice((
                "SELECT ?k WHERE { <http://w.example/@{m.1:iri}> <http://w.example/k> ?k . }",
                'SELECT ?k ?s WHERE { ?s <http://w.example/k> ?k . FILTER(STR(?k) = "@{v}") }',
                "SELECT ?k WHERE { <http://w.example/@{m.0}> <http://w.example/k> ?k . }",
            )),
        }
        if rng.random() < 0.3:
            step["as"] = "k s2"
        if rng.random() < 0.4:
            step["do"] = [{"echo": "row @{k}"}] + self.nested(depth)
        if rng.random() < 0.4:
            step["else"] = self.nested(depth)
        return step

    def workflow(self) -> list:
        rng = self.rng
        plan: list = []
        if rng.random() < 0.7:
            plan.append({"mapping": "mp", "pairs": self.pairs()})
            if rng.random() < 0.5:
                plan[-1]["flags"] = "I"
        self.loops += 1  # a call may run in a for-each body
        self.in_procedure = True
        for name in ("p1", "p2"):
            if rng.random() < 0.7:
                plan.append({"procedure": name, "do": self.body(2)})
        self.loops -= 1
        self.in_procedure = False
        if rng.random() < 0.5:
            plan.append({"set": "b", "to": "1"})
        plan.append({"match-every": rng.choice(_CONTROL_SCANS), "as": "m", "do": self.body(1)})
        plan.extend(self.body(2))
        if self.odd(0.03):
            # a self-reproducing pair: expanding either hits the rewrite cap
            # (a tenth of a second each, so on few documents)
            plan.append({"if": "@{m_count} == 5",
                         "do": [{"exec": "vars['v'] = '@' '{w}'; vars['w'] = '@' '{v}'"},
                                {"echo": rng.choice(("@{v}", "[@{w}]"))}]})
        plan.append({"echo": "v=@{v} w=@{w} mv=@{mv} rv=@{rv} lst=@{lst} k=@{k}"})
        return plan

    def pairs(self) -> list:
        rng = self.rng
        pairs = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.6:
                pair: Dict[str, Any] = {"from": rng.choice(_SWEEP_WORDS + ("ALPHA", "zeta"))}
            else:
                pair = {"re": rng.choice(("ze.*", r"(\w)\d+", "[A-Z]", "x"))}
            if self.odd(0.2):  # not a string: each hit kind maps it
                pair["to"] = rng.choice((5, 2.5, True, ["a"]))
            else:
                pair["to"] = self.value() if rng.random() < 0.3 else rng.choice(("M-@{v}", "R@{1}", "fixed"))
            pairs.append(pair)
        return pairs


def control_sweep_workflows(n: int, seed: int) -> List[Tuple[str, str]]:
    """``n`` seeded ``(name, YAML source)`` control workflows."""
    rng = random.Random(seed)
    return [
        (f"ctl_{i:03d}", yaml.safe_dump(_ControlWorkflow(rng).workflow(), sort_keys=False))
        for i in range(n)
    ]


def control_sweep_results() -> Iterator[Tuple[str, Any, list]]:
    """:func:`_sweep_results` of the control sweep workflows, with a
    ``doc`` variable, the sweep-word graph as ``words`` and the log kept."""
    from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph, make_query_fn, parse_ttl

    query_fn = make_query_fn({"words": MiniGraph(parse_ttl(_CONTROL_GRAPH))})
    return _sweep_results(control_sweep_workflows(CONTROL_WORKFLOWS, CONTROL_SEED),
                          match_sweep_documents(CONTROL_DOCUMENTS, CONTROL_SEED),
                          doc_vars={"doc": "d"}, query_fn=query_fn, collect_log=True)


def logged_result_fields(r) -> bytes:
    """Every result field of one run and its log."""
    return _result_fields(r) + repr(r.log).encode()
