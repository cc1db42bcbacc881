"""Pure-stdlib PDF text-layer decoding → :class:`~.pdf_tables.PageModel`.

The reference decodes PDFs with PyMuPDF (text_to_turtle_pdf_to_text.py,
``extractWORDS`` / ``get_drawings``); that lib is intentionally absent
here, so this module parses the PDF *text layer* directly — enough for
digitally-generated PDFs (uncompressed or FlateDecode content streams)
to flow end-to-end through the 7-stage geometric recognizer without any
native dependency. PyMuPDF, when present, still wins (see
``pdf_tables.pdf_bytes_to_page_models``).

Scope (raises ``ValueError`` beyond it — the row becomes an error row,
never silent garbage):

* body objects are recovered by scanning ``N G obj .. endobj`` (no xref
  needed — robust to broken tables, the standard salvage trick);
* PDF 1.5+ **object streams**: the trailing ``startxref`` is followed to
  the cross-reference STREAM (``/Type /XRef``, ``/W``-packed binary
  entries, PNG predictors, ``/Prev`` chains honored); its type-2
  entries name the ``/ObjStm`` containers, which are inflated and their
  packed objects sliced out by the /N+/First header — this is how most
  post-2005 PDFs store their catalog/page dicts, invisible to the raw
  scan. When no usable xref stream exists, every raw-scanned object
  whose dict says ``/Type /ObjStm`` is expanded instead (salvage);
* page tree walked from /Root → /Pages → /Kids with /MediaBox
  inheritance; falls back to /Type /Page objects in object order;
* content streams: no filter or /FlateDecode only, with PNG
  ``/Predictor`` (10-15) DecodeParms unfiltering;
* text operators: BT/ET, Tf, TL, Td, TD, T*, Tm (translation part),
  Tj, TJ (with kerning numbers), ' and "; literal ``(..)`` strings with
  escapes/octal and ``<hex>`` strings (latin-1);
* graphics: ``re`` rectangles flushed by any fill op (f F b B b* B*)
  feed the recognizer's line_rects; the CTM is assumed identity (``cm``
  is ignored) — true for the simple generators this targets;
* WIDTHS ARE APPROXIMATE: without font metrics a glyph advances
  ``0.5 * fontsize``. Word boxes are therefore deterministic but not
  typographically exact — fine for grid-positioned tables, which is what
  the recognizer consumes.

Coordinates are flipped from PDF's bottom-left origin to the page
model's top-left origin using /MediaBox height.
"""

from __future__ import annotations

import functools as _functools
import hashlib
import re
import struct
import zlib
from typing import Dict, List, Optional, Tuple

from .pdf_tables import Box, PageModel, Word

# glyph-width approximation (no font metrics in the text layer)
CHAR_WIDTH_EM = 0.5
ASCENT_EM = 0.8
DESCENT_EM = 0.2


class PdfParseError(ValueError):
    """Raised for PDFs outside the supported text-layer subset."""


# ---------------------------------------------------------------------------
# Standard security handler (RC4) — PDF 1.7 §7.6.3

_PDF_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + _PDF_PAD)[:32]


# ---------------------------------------------------------------------------
# AES-128 (FIPS-197) — pure stdlib, for the /AESV2 crypt filter.
# Both directions: CBC decrypt for reading encrypted PDFs, CBC encrypt
# for the R6 hardened hash (and the fixture writer). Verified against
# the FIPS-197 appendix vector in tests.

_AES_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_AES_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_AES_SBOX):
    _AES_INV_SBOX[_v] = _i
_AES_INV_SBOX = bytes(_AES_INV_SBOX)
_AES_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _aes_expand_key(key: bytes) -> List[bytes]:
    """128- or 256-bit key → 11 resp. 15 round keys of 16 bytes
    (FIPS-197 key expansion; Nk=8 adds the extra SubWord at i%Nk==4)."""
    nk = len(key) // 4
    if nk not in (4, 8):
        raise ValueError("AES key must be 16 or 32 bytes")
    rounds = 10 if nk == 4 else 14
    w = [key[i : i + 4] for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (rounds + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = bytes(
                _AES_SBOX[t[(j + 1) % 4]]
                ^ (_AES_RCON[i // nk - 1] if j == 0 else 0)
                for j in range(4)
            )
        elif nk == 8 and i % nk == 4:
            t = bytes(_AES_SBOX[b] for b in t)
        w.append(bytes(a ^ b for a, b in zip(w[i - nk], t)))
    return [b"".join(w[r * 4 : r * 4 + 4]) for r in range(rounds + 1)]


# T-tables (SubBytes+ShiftRows+MixColumns fused per input byte): the
# R6 hardened hash runs ~8700 block encryptions per call, so the naive
# per-byte round (~350 µs/block) is replaced by four 256-entry word
# tables (~10 µs/block). Decryption keeps the straightforward rounds —
# stream payloads are small and decrypt-side cost is negligible.
_T0 = []
for _x in range(256):
    _s = _AES_SBOX[_x]
    _T0.append(
        (_gmul(_s, 2) << 24) | (_s << 16) | (_s << 8) | _gmul(_s, 3)
    )
_T1 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _T0]
_T2 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _T1]
_T3 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _T2]


def _aes_encrypt_words(rkw, w0: int, w1: int, w2: int, w3: int):
    """One AES block on 32-bit words with PRE-UNPACKED round keys. The
    R6 hardened hash pushes ~79k blocks through CBC per encrypted
    fixture; re-unpacking 15 round keys and re-materializing 16-byte
    strings per block was ~40% of that stage's time, so the CBC loops
    stay in word space end to end."""
    last = len(rkw) - 1
    k = rkw[0]
    w0 ^= k[0]
    w1 ^= k[1]
    w2 ^= k[2]
    w3 ^= k[3]
    T0, T1, T2, T3 = _T0, _T1, _T2, _T3
    for rnd in range(1, last):
        k = rkw[rnd]
        t0 = (
            T0[w0 >> 24] ^ T1[(w1 >> 16) & 255] ^ T2[(w2 >> 8) & 255]
            ^ T3[w3 & 255] ^ k[0]
        )
        t1 = (
            T0[w1 >> 24] ^ T1[(w2 >> 16) & 255] ^ T2[(w3 >> 8) & 255]
            ^ T3[w0 & 255] ^ k[1]
        )
        t2 = (
            T0[w2 >> 24] ^ T1[(w3 >> 16) & 255] ^ T2[(w0 >> 8) & 255]
            ^ T3[w1 & 255] ^ k[2]
        )
        t3 = (
            T0[w3 >> 24] ^ T1[(w0 >> 16) & 255] ^ T2[(w1 >> 8) & 255]
            ^ T3[w2 & 255] ^ k[3]
        )
        w0, w1, w2, w3 = t0, t1, t2, t3
    S = _AES_SBOX
    k = rkw[last]
    o0 = (
        (S[w0 >> 24] << 24) | (S[(w1 >> 16) & 255] << 16)
        | (S[(w2 >> 8) & 255] << 8) | S[w3 & 255]
    ) ^ k[0]
    o1 = (
        (S[w1 >> 24] << 24) | (S[(w2 >> 16) & 255] << 16)
        | (S[(w3 >> 8) & 255] << 8) | S[w0 & 255]
    ) ^ k[1]
    o2 = (
        (S[w2 >> 24] << 24) | (S[(w3 >> 16) & 255] << 16)
        | (S[(w0 >> 8) & 255] << 8) | S[w1 & 255]
    ) ^ k[2]
    o3 = (
        (S[w3 >> 24] << 24) | (S[(w0 >> 16) & 255] << 16)
        | (S[(w1 >> 8) & 255] << 8) | S[w2 & 255]
    ) ^ k[3]
    return o0, o1, o2, o3


def _aes_decrypt_block(rk: List[bytes], block: bytes) -> bytes:
    last = len(rk) - 1
    s = bytes(a ^ b for a, b in zip(block, rk[last]))
    for rnd in range(last - 1, -1, -1):
        # InvShiftRows: out[r + 4c] = in[r + 4((c-r)%4)]
        s = bytes(s[(i - 4 * (i % 4)) % 16] for i in range(16))
        s = bytes(_AES_INV_SBOX[b] for b in s)
        s = bytes(a ^ b for a, b in zip(s, rk[rnd]))
        if rnd > 0:
            m = bytearray(16)
            for c in range(4):
                col = s[4 * c : 4 * c + 4]
                m[4 * c + 0] = (
                    _gmul(col[0], 14) ^ _gmul(col[1], 11)
                    ^ _gmul(col[2], 13) ^ _gmul(col[3], 9)
                )
                m[4 * c + 1] = (
                    _gmul(col[0], 9) ^ _gmul(col[1], 14)
                    ^ _gmul(col[2], 11) ^ _gmul(col[3], 13)
                )
                m[4 * c + 2] = (
                    _gmul(col[0], 13) ^ _gmul(col[1], 9)
                    ^ _gmul(col[2], 14) ^ _gmul(col[3], 11)
                )
                m[4 * c + 3] = (
                    _gmul(col[0], 11) ^ _gmul(col[1], 13)
                    ^ _gmul(col[2], 9) ^ _gmul(col[3], 14)
                )
            s = bytes(m)
    return s


def _aes_cbc_raw(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    """Unpadded CBC in either direction (data must be whole blocks) —
    used by the AES-256 handler's /UE//OE key unwrapping (iv = zeros,
    not stored) and the hardened hash's inner encryption."""
    if len(data) % 16:
        raise PdfParseError("CBC payload not a whole number of blocks")
    rk = _aes_expand_key(key)
    out = bytearray()
    if encrypt:
        rkw = [struct.unpack(">4I", k) for k in rk]
        p0, p1, p2, p3 = struct.unpack(">4I", iv)
        for i in range(0, len(data), 16):
            b0, b1, b2, b3 = struct.unpack_from(">4I", data, i)
            p0, p1, p2, p3 = _aes_encrypt_words(
                rkw, p0 ^ b0, p1 ^ b1, p2 ^ b2, p3 ^ b3
            )
            out += struct.pack(">4I", p0, p1, p2, p3)
        return bytes(out)
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rk, blk), prev))
        prev = blk
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 hardened hash: SHA-256 seed,
    then ≥64 rounds of (pw+K+udata)×64 through AES-128-CBC keyed from
    K, re-hashed with SHA-256/384/512 chosen by the ciphertext's first
    16 bytes mod 3, until round ≥ 64 and the last byte ≤ round-32.
    (R5 uses a single SHA-256 — callers pick.)

    lru_cache: the hash is a pure ~0.25 s KDF of (password, salt,
    udata); a corpus whose documents share an encryption dialect (and
    the gate fixture, which uses fixed salts) pays it once per worker
    instead of once per document. Bounded at 256 entries so hostile
    PDFs with unique salts cannot grow it."""
    K = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + K + udata) * 64
        e = _aes_cbc_raw(K[:16], K[16:32], k1, encrypt=True)
        mod = sum(e[:16]) % 3
        K = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return K[:32]


def _aes256_file_key(
    u: bytes, ue: bytes, rev: int, password: bytes = b""
) -> bytes:
    """AES-256 Standard handler (R5 deprecated / R6), USER password
    path: validate against /U (32-byte hash + 8 validation salt +
    8 key salt), then unwrap the file key from /UE. A hash mismatch is
    the loud password error — never silent garbage."""
    if len(u) < 48 or len(ue) < 32:
        raise PdfParseError("AES-256 /U or /UE too short")
    vsalt, ksalt = u[32:40], u[40:48]
    if rev == 6:
        h = _hash_2b(password, vsalt)
    else:
        h = hashlib.sha256(password + vsalt).digest()
    if h != u[:32]:
        raise PdfParseError(
            "password-protected PDF (empty user password rejected)"
        )
    inter = (
        _hash_2b(password, ksalt)
        if rev == 6
        else hashlib.sha256(password + ksalt).digest()
    )
    return _aes_cbc_raw(inter, b"\x00" * 16, ue[:32], encrypt=False)


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PKCS#7-padded CBC decrypt of data = iv + ciphertext (the PDF
    /AESV2 stream layout, §7.6.2). Raises PdfParseError on bad layout
    or padding (per-row isolation)."""
    if len(data) < 32 or len(data) % 16:
        raise PdfParseError("AES stream not a whole number of blocks")
    out = _aes_cbc_raw(key, data[:16], data[16:], encrypt=False)
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise PdfParseError("AES stream has invalid padding")
    return out[:-pad]


def _std_file_key(
    o: bytes,
    p: int,
    fid: bytes,
    rev: int,
    n: int,
    user_pw: bytes = b"",
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key (n bytes)."""
    h = hashlib.md5()
    h.update(_pad_password(user_pw))
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(fid)
    if rev >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if rev >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _std_user_value(file_key: bytes, fid: bytes, rev: int) -> bytes:
    """Algorithms 4/5: the /U entry (R3+: 16 hash bytes + 16 pad)."""
    if rev == 2:
        return _rc4(file_key, _PDF_PAD)
    h = hashlib.md5(_PDF_PAD + fid).digest()
    u = _rc4(file_key, h)
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16


# ---------------------------------------------------------------------------
# Object-level parsing

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b", re.S)
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """Token reader over one object's (or content stream's) bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.i = 0

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.i < n:
            c = d[self.i : self.i + 1]
            if c in b"%":  # comment to EOL
                j = d.find(b"\n", self.i)
                self.i = n if j < 0 else j + 1
            elif c in _WS:
                self.i += 1
            else:
                return

    def peek(self) -> bytes:
        self._skip_ws()
        return self.data[self.i : self.i + 1]

    def next_token(self) -> Optional[Tuple[str, object]]:
        """('num', float) | ('name', str) | ('str', bytes) | ('op', str) |
        ('dict_open'/'dict_close'/'arr_open'/'arr_close', None)"""
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.i >= n:
            return None
        c = d[self.i : self.i + 1]
        if c == b"(":
            return ("str", self._literal_string())
        if c == b"<":
            if d[self.i + 1 : self.i + 2] == b"<":
                self.i += 2
                return ("dict_open", None)
            return ("str", self._hex_string())
        if c == b">":
            if d[self.i + 1 : self.i + 2] == b">":
                self.i += 2
                return ("dict_close", None)
            raise PdfParseError("stray '>' in PDF tokens")
        if c == b"[":
            self.i += 1
            return ("arr_open", None)
        if c == b"]":
            self.i += 1
            return ("arr_close", None)
        if c == b"/":
            j = self.i + 1
            while j < n and d[j : j + 1] not in _WS and d[j : j + 1] not in _DELIM:
                j += 1
            name = d[self.i + 1 : j].decode("latin-1")
            self.i = j
            return ("name", name)
        if c in b"+-.0123456789":
            j = self.i + 1
            while j < n and d[j : j + 1] in b"+-.0123456789":
                j += 1
            tok = d[self.i : j]
            self.i = j
            try:
                return ("num", float(tok))
            except ValueError as ex:  # e.g. bare '+', '.', '1-2'
                raise PdfParseError(f"malformed PDF number {tok!r}") from ex
        # operator / keyword word
        j = self.i
        while j < n and d[j : j + 1] not in _WS and d[j : j + 1] not in _DELIM:
            j += 1
        word = d[self.i : j].decode("latin-1")
        self.i = j
        if not word:
            raise PdfParseError(f"cannot tokenize PDF byte {c!r}")
        return ("op", word)

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        assert d[self.i : self.i + 1] == b"("
        self.i += 1
        out = bytearray()
        depth = 1
        while self.i < n:
            c = d[self.i]
            self.i += 1
            if c == 0x5C:  # backslash
                if self.i >= n:
                    break
                e = d[self.i]
                self.i += 1
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                elif 0x30 <= e <= 0x37:  # octal \ddd (1-3 digits)
                    oct_digits = [e - 0x30]
                    for _ in range(2):
                        if self.i < n and 0x30 <= d[self.i] <= 0x37:
                            oct_digits.append(d[self.i] - 0x30)
                            self.i += 1
                        else:
                            break
                    v = 0
                    for dg in oct_digits:
                        v = v * 8 + dg
                    out.append(v & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.i < n and d[self.i] == 0x0A:
                        self.i += 1
                else:
                    out.append(e)
            elif c == 0x28:  # (
                depth += 1
                out.append(c)
            elif c == 0x29:  # )
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
        raise PdfParseError("unterminated literal string")

    def _hex_string(self) -> bytes:
        d = self.data
        assert d[self.i : self.i + 1] == b"<"
        j = d.find(b">", self.i)
        if j < 0:
            raise PdfParseError("unterminated hex string")
        hx = re.sub(rb"\s", b"", d[self.i + 1 : j])
        self.i = j + 1
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except (ValueError, UnicodeDecodeError) as ex:
            raise PdfParseError(f"bad hex string: {ex}") from ex


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


def _parse_value(lx: _Lexer):
    """One PDF value: dict/array/name/number/string/bool/null/reference."""
    tok = lx.next_token()
    if tok is None:
        raise PdfParseError("unexpected end of object data")
    kind, val = tok
    if kind == "dict_open":
        d: Dict[str, object] = {}
        while True:
            k = lx.next_token()
            if k is None:
                raise PdfParseError("unterminated dictionary")
            if k[0] == "dict_close":
                return d
            if k[0] != "name":
                raise PdfParseError(f"dictionary key is not a name: {k!r}")
            d[k[1]] = _parse_value(lx)
    if kind == "arr_open":
        arr: List[object] = []
        while True:
            save = lx.i
            t = lx.next_token()
            if t is None:
                raise PdfParseError("unterminated array")
            if t[0] == "arr_close":
                return arr
            lx.i = save
            arr.append(_parse_value(lx))
    if kind == "num":
        # maybe a reference: NUM GEN R
        save = lx.i
        t2 = lx.next_token()
        if t2 is not None and t2[0] == "num":
            t3 = lx.next_token()
            if t3 is not None and t3 == ("op", "R"):
                return _Ref(int(val))
        lx.i = save
        return val
    if kind == "name":
        return ("name", val)
    if kind == "str":
        return val
    if kind == "op":
        if val == "true":
            return True
        if val == "false":
            return False
        if val == "null":
            return None
        raise PdfParseError(f"unexpected keyword {val!r} in object data")
    raise PdfParseError(f"unexpected token {tok!r} in object data")


def _png_unpredict(
    data: bytes, columns: int, colors: int = 1, bpc: int = 8
) -> bytes:
    """Undo PNG row predictors (DecodeParms /Predictor 10-15): each row
    is one filter-type byte + ``columns*colors*bpc/8`` data bytes."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen <= 0:
        raise PdfParseError("bad predictor /Columns")
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i < n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + rowlen
        if len(row) < rowlen:
            raise PdfParseError("truncated PNG-predictor row")
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        else:
            raise PdfParseError(f"unsupported PNG predictor filter {ft}")
        out += row
        prev = row
    return bytes(out)


class _PdfDoc:
    """All body objects of one PDF, by object number.

    Recovery strategy (in order): raw ``N G obj`` scan → xref-stream
    walk for type-2 (compressed) entries → /ObjStm expansion. A type-2
    entry means the CURRENT version of that object lives in the object
    stream, so those override raw-scan hits; in salvage mode (no usable
    xref stream) the raw scan wins on conflicts."""

    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise PdfParseError("missing %PDF- header")
        self.objects: Dict[int, bytes] = {}
        for m in _OBJ_RE.finditer(data):
            end = data.find(b"endobj", m.end())
            if end < 0:
                continue
            self.objects[int(m.group(1))] = data[m.end() : end]
        if not self.objects:
            raise PdfParseError("no indirect objects found")
        self._parsed: Dict[int, object] = {}
        self._enc_key: Optional[bytes] = None
        self._enc_aes = False  # True for AES crypt filters (V2 or V3)
        self._enc_aes_direct = False  # AES-256: file key used directly
        self._setup_encryption(data)
        try:
            containers, compressed = self._walk_xref_streams(data)
        except PdfParseError:
            containers, compressed = None, set()
        if containers is None:  # salvage: scan for /Type /ObjStm dicts
            containers = []
            for num in sorted(self.objects):
                try:
                    d = self.obj(num)
                except PdfParseError:
                    continue
                if isinstance(d, dict) and d.get("Type") == ("name", "ObjStm"):
                    containers.append(num)
        self._expand_objstms(containers, compressed)

    def _setup_encryption(self, data: bytes) -> None:
        """Resolve /Encrypt (classic trailer or XRef-stream dict) and
        derive the RC4 file key for the EMPTY user password — the only
        password the web-crawl path can assume. The derived key is
        verified against /U; a mismatch means a real password, which is
        a loud per-row error (like PyMuPDF's needs_pass in the
        reference's stack). R4 /AESV2 (AES-128-CBC, the post-Acrobat-7
        default) and /V 5 /AESV3 (AES-256, R5 deprecated and R6 with
        the Algorithm 2.B hardened hash) are both handled with the
        stdlib AES above."""
        enc = None
        fid = b""
        for m in re.finditer(rb"trailer", data):
            try:
                d = _parse_value(_Lexer(data[m.end() :]))
            except PdfParseError:
                continue
            if isinstance(d, dict):
                if "Encrypt" in d:
                    enc = d["Encrypt"]
                i = d.get("ID")
                if isinstance(i, list) and i and isinstance(i[0], bytes):
                    fid = i[0]
        if enc is None:
            for num in sorted(self.objects):
                try:
                    d = self.obj(num)
                except PdfParseError:
                    continue
                if (
                    isinstance(d, dict)
                    and d.get("Type") == ("name", "XRef")
                    and "Encrypt" in d
                ):
                    enc = d["Encrypt"]
                    i = self.resolve(d.get("ID"))
                    if isinstance(i, list) and i and isinstance(i[0], bytes):
                        fid = i[0]
                    break
        if enc is None:
            return
        ed = self.resolve(enc)
        if not isinstance(ed, dict):
            raise PdfParseError("malformed /Encrypt dictionary")
        if ed.get("Filter") != ("name", "Standard"):
            raise PdfParseError(
                f"unsupported security handler {ed.get('Filter')!r}"
            )
        v = int(self.resolve(ed.get("V")) or 0)
        rev = int(self.resolve(ed.get("R")) or 2)
        length = int(self.resolve(ed.get("Length")) or 40)
        if v == 4:
            # crypt filters: /V2 (RC4) and /AESV2 (AES-128-CBC)
            stmf = self.resolve(ed.get("StmF")) or ("name", "Identity")
            cf = self.resolve(ed.get("CF"))
            cfm = None
            if isinstance(cf, dict) and isinstance(stmf, tuple):
                cfd = self.resolve(cf.get(stmf[1]))
                if isinstance(cfd, dict):
                    cfm = cfd.get("CFM")
            if cfm == ("name", "AESV2"):
                self._enc_aes = True
            elif cfm != ("name", "V2"):
                raise PdfParseError(
                    f"unsupported crypt filter {cfm!r} (custom handler)"
                )
        elif v == 5:
            if rev not in (5, 6):
                raise PdfParseError(f"unsupported AES-256 revision {rev}")
            u5 = ed.get("U")
            ue5 = ed.get("UE")
            if not isinstance(u5, bytes) or not isinstance(ue5, bytes):
                raise PdfParseError("AES-256 /Encrypt missing /U or /UE")
            self._enc_key = _aes256_file_key(u5, ue5, rev)
            self._enc_aes = True
            self._enc_aes_direct = True
            return
        elif v not in (1, 2):
            raise PdfParseError(f"unsupported /Encrypt /V {v}")
        o = ed.get("O")
        u = ed.get("U")
        p_raw = self.resolve(ed.get("P"))
        if not isinstance(o, bytes) or len(o) < 32 or p_raw is None:
            raise PdfParseError("/Encrypt missing /O or /P")
        p = int(p_raw)
        if p >= 1 << 31:
            p -= 1 << 32  # some writers store P as unsigned
        n = 5 if rev == 2 else max(5, min(16, length // 8))
        em = self.resolve(ed.get("EncryptMetadata"))
        key = _std_file_key(
            o, p, fid, rev, n, encrypt_metadata=em is not False
        )
        if isinstance(u, bytes):
            expect = _std_user_value(key, fid, rev)
            got, want = (u[:16], expect[:16]) if rev >= 3 else (u[:32], expect)
            if got != want:
                raise PdfParseError(
                    "password-protected PDF (empty user password rejected)"
                )
        self._enc_key = key

    def _object_key(self, num: int, gen: int = 0) -> bytes:
        if self._enc_aes_direct:
            # AES-256 (V5): the file key encrypts every stream directly
            return self._enc_key
        h = hashlib.md5(
            self._enc_key
            + struct.pack("<I", num)[:3]
            + struct.pack("<I", gen)[:2]
            # AES object keys append the spec's 'sAlT' marker (§7.6.2)
            + (b"sAlT" if self._enc_aes else b"")
        ).digest()
        return h[: min(len(self._enc_key) + 5, 16)]

    def _walk_xref_streams(self, data: bytes):
        """Follow startxref (+ /Prev chain). Returns (objstm container
        numbers in discovery order, set of type-2 object numbers), or
        (None, empty) when the file uses a classic xref table — then
        the raw scan is already complete."""
        sx = data.rfind(b"startxref")
        if sx < 0:
            return None, set()
        m = re.match(rb"startxref\s+(\d+)", data[sx:])
        if m is None:
            return None, set()
        offset = int(m.group(1))
        containers: List[int] = []
        compressed: set = set()
        seen_offsets: set = set()
        found_stream = False
        while 0 <= offset < len(data) and offset not in seen_offsets:
            seen_offsets.add(offset)
            if re.match(rb"xref\b", data[offset:].lstrip(_WS)[:8]):
                break  # classic table section; raw scan covers it
            om = re.match(rb"(\d+)\s+\d+\s+obj\b", data[offset:])
            if om is None:
                raise PdfParseError("startxref points at neither xref nor obj")
            num = int(om.group(1))
            d = self.obj(num)
            if not (isinstance(d, dict) and d.get("Type") == ("name", "XRef")):
                raise PdfParseError("startxref object is not /Type /XRef")
            found_stream = True
            w = [int(x) for x in self.resolve(d.get("W")) or []]
            if len(w) != 3 or sum(w) <= 0:
                raise PdfParseError(f"malformed xref-stream /W: {w!r}")
            size = int(self.resolve(d.get("Size")) or 0)
            index = self.resolve(d.get("Index")) or [0.0, float(size)]
            index = [int(x) for x in index]
            entries = self.stream(num)
            ew = sum(w)
            pos = 0
            for k in range(0, len(index) - 1, 2):
                start, count = index[k], index[k + 1]
                for objnum in range(start, start + count):
                    raw_e = entries[pos : pos + ew]
                    pos += ew
                    if len(raw_e) < ew:
                        raise PdfParseError("truncated xref-stream entry")
                    fields = []
                    p = 0
                    for width in w:
                        fields.append(
                            int.from_bytes(raw_e[p : p + width], "big")
                            if width
                            else None
                        )
                        p += width
                    etype = fields[0] if w[0] else 1  # default type 1
                    if etype == 2:
                        cnum = fields[1]
                        compressed.add(objnum)
                        if cnum not in containers:
                            containers.append(cnum)
            prev = self.resolve(d.get("Prev"))
            if prev is None:
                break
            offset = int(prev)
        if not found_stream:
            return None, set()
        return containers, compressed

    def _expand_objstms(self, containers: List[int], compressed: set) -> None:
        """Slice each /ObjStm container's packed objects into
        ``self.objects``. ``compressed`` object numbers (named by a
        type-2 xref entry) override raw-scan hits; others only fill
        gaps."""
        for cnum in containers:
            if cnum not in self.objects:
                continue
            try:
                d = self.obj(cnum)
            except PdfParseError:
                continue
            if not (isinstance(d, dict) and d.get("Type") == ("name", "ObjStm")):
                continue
            n = self.resolve(d.get("N"))
            first = self.resolve(d.get("First"))
            if not isinstance(n, float) or not isinstance(first, float):
                raise PdfParseError("/ObjStm missing /N or /First")
            n, first = int(n), int(first)
            payload = self.stream(cnum)
            lx = _Lexer(payload[:first])
            pairs: List[Tuple[int, int]] = []
            for _ in range(n):
                t1 = lx.next_token()
                t2 = lx.next_token()
                if t1 is None or t2 is None or t1[0] != "num" or t2[0] != "num":
                    raise PdfParseError("malformed /ObjStm pair table")
                pairs.append((int(t1[1]), int(t2[1])))
            for i, (onum, off) in enumerate(pairs):
                start = first + off
                end = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(payload)
                if not 0 <= start <= end <= len(payload):
                    raise PdfParseError("/ObjStm offset out of bounds")
                if onum in self.objects and onum not in compressed:
                    continue
                self.objects[onum] = payload[start:end]
                self._parsed.pop(onum, None)

    def obj(self, num: int):
        """Parsed top-level value of object ``num`` (stream dicts return
        just the dict; use :meth:`stream` for the payload)."""
        if num not in self._parsed:
            if num not in self.objects:
                raise PdfParseError(f"dangling reference to object {num}")
            self._parsed[num] = _parse_value(_Lexer(self.objects[num]))
        return self._parsed[num]

    def resolve(self, v):
        return self.obj(v.num) if isinstance(v, _Ref) else v

    def stream(self, num: int) -> bytes:
        """Decoded stream payload of object ``num``."""
        raw = self.objects[num]
        m = re.search(rb"stream\r?\n", raw)
        if m is None:
            raise PdfParseError(f"object {num} has no stream")
        end = raw.rfind(b"endstream")
        if end < 0:
            raise PdfParseError(f"object {num}: unterminated stream")
        d = self.obj(num)
        length = self.resolve(d.get("Length")) if isinstance(d, dict) else None
        if isinstance(length, float) and m.end() + int(length) <= end:
            # exact /Length wins: binary (compressed) data may itself end
            # in EOL bytes that a heuristic strip would eat
            payload = raw[m.end() : m.end() + int(length)]
        else:
            payload = raw[m.end() : end]
            # trailing EOL before 'endstream' is not part of the data
            if payload.endswith(b"\r\n"):
                payload = payload[:-2]
            elif payload.endswith((b"\n", b"\r")):
                payload = payload[:-1]
        if self._enc_key is not None and not (
            isinstance(d, dict) and d.get("Type") == ("name", "XRef")
        ):
            # every stream except the xref stream is encrypted with the
            # per-object key (PDF 1.7 §7.6.2 Algorithm 1; gen 0 — the
            # raw scan keys objects by number only): RC4 keystream, or
            # for /AESV2 a 16-byte IV + AES-128-CBC + PKCS#7 padding
            if self._enc_aes:
                payload = _aes_cbc_decrypt(self._object_key(num), payload)
            else:
                payload = _rc4(self._object_key(num), payload)
        filt = d.get("Filter") if isinstance(d, dict) else None
        filt = self.resolve(filt)
        filters: List[object] = (
            [] if filt is None else (filt if isinstance(filt, list) else [filt])
        )
        parms = d.get("DecodeParms", d.get("DP")) if isinstance(d, dict) else None
        parms = self.resolve(parms)
        parms_list: List[object] = (
            parms if isinstance(parms, list) else [parms] * max(1, len(filters))
        )
        for fi, f in enumerate(filters):
            f = self.resolve(f)
            if f == ("name", "FlateDecode"):
                try:
                    payload = zlib.decompress(payload)
                except zlib.error as ex:
                    # zlib.error is NOT a ValueError — without this wrap a
                    # corrupt stream would escape the parser's contract
                    raise PdfParseError(f"corrupt Flate stream: {ex}") from ex
                p = self.resolve(parms_list[fi]) if fi < len(parms_list) else None
                if isinstance(p, dict):
                    pred = self.resolve(p.get("Predictor"))
                    pred = int(pred) if isinstance(pred, float) else 1
                    if pred >= 10:  # PNG row predictors
                        payload = _png_unpredict(
                            payload,
                            columns=int(self.resolve(p.get("Columns")) or 1),
                            colors=int(self.resolve(p.get("Colors")) or 1),
                            bpc=int(
                                self.resolve(p.get("BitsPerComponent")) or 8
                            ),
                        )
                    elif pred not in (1, None):
                        raise PdfParseError(
                            f"unsupported /Predictor {pred} (TIFF)"
                        )
            else:
                raise PdfParseError(f"unsupported PDF stream filter: {f!r}")
        return payload


# ---------------------------------------------------------------------------
# Page tree

_DEFAULT_MEDIABOX = (0.0, 0.0, 612.0, 792.0)


def _resolve_mediabox(doc: "_PdfDoc", mb, inherited) -> tuple:
    """Validate a /MediaBox value: 4 numbers or fall back to inherited."""
    mb = doc.resolve(mb)
    if mb is None:
        return inherited
    if not isinstance(mb, list) or len(mb) < 4:
        raise PdfParseError(f"malformed /MediaBox: {mb!r}")
    out = []
    for v in mb[:4]:
        v = doc.resolve(v)
        if not isinstance(v, float):
            raise PdfParseError(f"malformed /MediaBox entry: {v!r}")
        out.append(v)
    return tuple(out)


def _find_pages(doc: _PdfDoc) -> List[Tuple[dict, Tuple[float, float, float, float]]]:
    """[(page dict, mediabox)] in tree order, with /MediaBox inheritance."""
    root_pages: Optional[_Ref] = None
    for num in sorted(doc.objects):
        try:
            d = doc.obj(num)
        except PdfParseError:
            continue
        if isinstance(d, dict) and d.get("Type") == ("name", "Catalog"):
            p = d.get("Pages")
            if isinstance(p, _Ref):
                root_pages = p
            break

    pages: List[Tuple[dict, tuple]] = []

    def walk(node_ref, inherited_mb, depth=0):
        if depth > 64:
            raise PdfParseError("page tree too deep (cycle?)")
        node = doc.resolve(node_ref)
        if not isinstance(node, dict):
            raise PdfParseError("page-tree node is not a dictionary")
        mb = _resolve_mediabox(doc, node.get("MediaBox"), inherited_mb)
        if node.get("Type") == ("name", "Page"):
            pages.append((node, mb))
            return
        for kid in doc.resolve(node.get("Kids")) or []:
            walk(kid, mb, depth + 1)

    if root_pages is not None:
        walk(root_pages, _DEFAULT_MEDIABOX)
    if not pages:  # salvage: /Type /Page objects in object order
        for num in sorted(doc.objects):
            try:
                d = doc.obj(num)
            except PdfParseError:
                continue
            if isinstance(d, dict) and d.get("Type") == ("name", "Page"):
                mb = _resolve_mediabox(doc, d.get("MediaBox"), _DEFAULT_MEDIABOX)
                pages.append((d, mb))
    if not pages:
        raise PdfParseError("no pages found")
    return pages


def _page_content(doc: _PdfDoc, page: dict) -> bytes:
    c = page.get("Contents")
    if c is None:
        return b""
    c_resolved = doc.resolve(c)
    refs = c if isinstance(c, _Ref) else None
    if isinstance(c_resolved, list):
        parts = []
        for r in c_resolved:
            if not isinstance(r, _Ref):
                raise PdfParseError("/Contents array entry is not a reference")
            parts.append(doc.stream(r.num))
        return b"\n".join(parts)
    if refs is None:
        raise PdfParseError("/Contents must be a reference or array of references")
    return doc.stream(refs.num)


# ---------------------------------------------------------------------------
# Content-stream interpretation


def _interpret_content(
    content: bytes, page_height: float
) -> Tuple[List[Word], List[Box]]:
    """Run the text/graphics operators → (words, fill rectangles), in the
    page model's top-left coordinate system."""
    lx = _Lexer(content)
    words: List[Word] = []
    rects: List[Box] = []
    stack: List[object] = []

    fontsize = 12.0
    leading = 0.0
    x = y = 0.0  # current text position (PDF coords)
    lxx = lyy = 0.0  # line start
    pending_rects: List[Box] = []

    def flip_word(px: float, py: float, text: str) -> Word:
        w = CHAR_WIDTH_EM * fontsize * len(text)
        top = page_height - py - ASCENT_EM * fontsize
        bot = page_height - py + DESCENT_EM * fontsize
        return Word(Box(px, top, px + w, bot), text)

    def show(raw: bytes) -> None:
        nonlocal x
        text = raw.decode("latin-1")
        cw = CHAR_WIDTH_EM * fontsize
        for piece in re.split(r"( +)", text):
            if piece == "":
                continue
            if piece[0] == " ":
                x += cw * len(piece)
                continue
            words.append(flip_word(x, y, piece))
            x += cw * len(piece)

    def num(v) -> float:
        if not isinstance(v, float):
            raise PdfParseError(f"operand is not a number: {v!r}")
        return v

    def need(n_operands: int, op: str) -> None:
        if len(stack) < n_operands:
            raise PdfParseError(f"operator {op!r} is missing operands")

    while True:
        save = lx.i
        tok = lx.next_token()
        if tok is None:
            break
        kind, val = tok
        if kind in ("num", "str", "name"):
            stack.append(val)
            continue
        if kind == "arr_open":
            lx.i = save
            stack.append(_parse_value(lx))
            continue
        if kind == "dict_open":
            lx.i = save
            stack.append(_parse_value(lx))
            continue
        if kind in ("arr_close", "dict_close"):
            raise PdfParseError("unbalanced array/dict in content stream")
        op = val
        if op == "BI":
            raise PdfParseError("inline images (BI..EI) are not supported")
        if op == "Tf":
            need(1, op)
            fontsize = num(stack[-1])
        elif op == "TL":
            need(1, op)
            leading = num(stack[-1])
        elif op == "Td":
            need(2, op)
            lxx += num(stack[-2])
            lyy += num(stack[-1])
            x, y = lxx, lyy
        elif op == "TD":
            need(2, op)
            leading = -num(stack[-1])
            lxx += num(stack[-2])
            lyy += num(stack[-1])
            x, y = lxx, lyy
        elif op == "Tm":
            need(6, op)
            lxx, lyy = num(stack[-2]), num(stack[-1])
            x, y = lxx, lyy
        elif op == "T*":
            lyy -= leading
            x, y = lxx, lyy
        elif op == "BT":
            x = y = lxx = lyy = 0.0
        elif op == "Tj":
            need(1, op)
            show(stack[-1] if isinstance(stack[-1], bytes) else b"")
        elif op == "'":
            need(1, op)
            lyy -= leading
            x, y = lxx, lyy
            show(stack[-1] if isinstance(stack[-1], bytes) else b"")
        elif op == '"':
            need(3, op)
            lyy -= leading
            x, y = lxx, lyy
            show(stack[-1] if isinstance(stack[-1], bytes) else b"")
        elif op == "TJ":
            need(1, op)
            arr = stack[-1]
            if not isinstance(arr, list):
                raise PdfParseError("TJ operand is not an array")
            for item in arr:
                if isinstance(item, bytes):
                    show(item)
                elif isinstance(item, float):
                    x -= item / 1000.0 * fontsize
                else:
                    raise PdfParseError(f"bad TJ array item: {item!r}")
        elif op == "re":
            need(4, op)
            rx, ry, rw, rh = (num(v) for v in stack[-4:])
            pending_rects.append(
                Box(rx, page_height - (ry + rh), rx + rw, page_height - ry)
            )
        elif op in ("f", "F", "b", "B", "b*", "B*"):
            rects.extend(pending_rects)
            pending_rects.clear()
        elif op in ("n", "S", "s", "W", "W*"):
            pending_rects.clear()
        # all other operators (colors, gs, cm, ET, q/Q, fonts...) are
        # state we don't model; their operands are consumed below
        stack.clear()
    return words, rects


# ---------------------------------------------------------------------------
# Public API

def pdf_bytes_to_page_models_stdlib(data: bytes) -> List[PageModel]:
    """Decode PDF bytes into page models with the stdlib text-layer
    parser (see module docstring for the supported subset)."""
    doc = _PdfDoc(data)
    models: List[PageModel] = []
    for page_no, (page, mb) in enumerate(_find_pages(doc)):
        height = float(mb[3]) - float(mb[1])
        content = _page_content(doc, page)
        words, rects = _interpret_content(content, height)
        models.append(PageModel(words=words, line_rects=rects, page_no=page_no))
    return models
