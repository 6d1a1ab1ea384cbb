"""Minimal pure-stdlib PDF text+position decoder.

The engine's only %PDF parser: ``kernel.engine.extract_document``
hands every ``%PDF-`` blob to :func:`parse_pdf_mini`. It needs no
pdfminer and runs the reference's own fixture PDFs
(``form10k20231230.pdf`` and ``bayer1.pdf``, pinned by the reference's
``tests/integration_tests.py:4-31``). A from-scratch reader of the
public PDF 1.x spec (ISO 32000), sufficient for real-world text
PDFs:

- classic xref tables AND cross-reference streams (/XRef, PNG
  predictors), object streams (/ObjStm), incremental updates (/Prev,
  hybrid /XRefStm), plus a brute-force `N G obj` scan fallback for
  broken xrefs;
- FlateDecode (+ /Predictor 2/10..15) via zlib, LZWDecode (variable
  9..12-bit codes, EarlyChange, + predictors), RunLengthDecode,
  ASCIIHexDecode, ASCII85Decode;
- standard security handler: RC4 (V≤4 /V2 filters), AES-128
  (V4 /AESV2, per-object key + sAlT) and AES-256 (V5 R5/R6 /AESV3,
  ISO 32000-2 hardened hash) via a from-scratch FIPS-197 AES — all
  with empty user password (the ``bayer1.pdf`` case; pure-bytes,
  unlike the reference's in-place qpdf rewrite, converter.py:41-52);
- simple fonts (/Widths, /FirstChar, /Differences, WinAnsi/MacRoman
  byte encodings, Type3 /FontMatrix width scaling) and composite
  Type0/CIDFontType2 fonts (Identity-H, /W + /DW widths, /ToUnicode
  bfchar/bfrange CMaps);
- page /Rotate (90/180/270) and nonzero-origin MediaBoxes via the
  initial page CTM, inline images (BI..ID..EI) skipped;
- a content-stream text interpreter (BT/ET, Tf, Td/TD/Tm/T*, TL, Tc,
  Tw, Tz, Ts, Tj, TJ, ', ", plus q/Q/cm CTM tracking) that emits
  positioned chars with pdfminer-compatible bboxes: for horizontal
  writing the glyph box is (origin_x, baseline + descent*size) to
  (origin_x + adv, baseline + descent*size + size), transformed by
  Tm x CTM — the same construction pdfminer's LTChar uses, so the
  downstream kernel sees the geometry it was verified against.

Output is the kernel's native page model (``layout_codec.Page``). By
default the positioned chars are run through the pdfminer-equivalent
LAParams analysis (``layout_group.py``: chars -> lines -> textboxes,
default LAParams of the pdfminer.six 20221105 the reference pins), so
real PDFs exercise the reference's PRIMARY tokenizer path
(pdf_page.py:123-207) — the raw-char OCR-stream path
(pdf_page.py:209-273) remains available via ``group=False``.
"""

from __future__ import annotations

import re
import struct
import zlib
from hashlib import md5
from typing import Dict, List, Optional, Tuple

from parsee_pdf_reader_spark.sources.layout_codec import (
    Box,
    Char,
    KIND_CHARS,
    Page,
)

# ---------------------------------------------------------------------------
# object model
# ---------------------------------------------------------------------------


class Name(str):
    """A PDF name (/Foo) — distinct from a string literal."""


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"{self.num}R{self.gen}"

    def __eq__(self, o):
        return isinstance(o, Ref) and (self.num, self.gen) == (o.num, o.gen)

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


_WS = b"\x00\t\n\x0c\r "


def _name(raw: bytes) -> "Name":
    """A name token's bytes after the ``/``, ``#xx`` escapes decoded."""
    if b"#" in raw:
        raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                     lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1"))


def _number(raw: bytes):
    try:
        if b"." in raw or b"e" in raw or b"E" in raw:
            return float(raw)
        return int(raw)
    except ValueError:
        return 0


_SKIP = rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*)*"
_SKIP_WS = re.compile(_SKIP)

#: one token after whitespace and comments, dispatched the way the
#: byte-at-a-time lexer did; the group that matched names the kind,
#: and no group matches only at the end of the data. Integers and
#: plain decimals get their own groups so they skip ``_number``'s
#: tests (a longer run of number chars falls to the general group).
_TOKEN = re.compile(
    _SKIP
    + rb"(?:([+\-]?[0-9]+)(?![+\-.0-9eE])"           # 1 integer
    rb"|([+\-]?[0-9]*\.[0-9]+)(?![+\-.0-9eE])"       # 2 decimal
    rb"|([+\-.0-9][+\-.0-9eE]*)"                     # 3 other number
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"          # 4 name
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"           # 5 keyword
    rb"|(<<|\[)"                                     # 6 dict/array open
    rb"|(\(|<)"                                      # 7 string or hex
    rb"|(>>|\]|[>{})]))?")                           # 8 other delimiter
_INT, _DEC, _NUM, _NAME, _WORD, _OPEN, _STRING = range(1, 8)
_KEYWORDS = {b"true": (True, "bool"), b"false": (False, "bool"),
             b"null": (None, "null")}
_CLOSERS = {b">>": (">>", "dict_close"), b"]": ("]", "arr_close")}
#: bytes a string literal copies verbatim
_PLAIN = re.compile(rb"[^\\()]+")


class Lexer:
    """Tokenizer/parser over a bytes buffer (one object or a content
    stream)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.n = len(data)

    def _skip_ws(self):
        if self.pos < self.n:  # an unterminated string can leave n + 1
            self.pos = _SKIP_WS.match(self.data, self.pos).end()

    def at_end(self) -> bool:
        self._skip_ws()
        return self.pos >= self.n

    def next_token(self):
        """Returns one of: Name, bytes (string literal), int, float,
        bool, None, '[' ']' '<<' '>>' markers (as str), operator str."""
        if self.pos >= self.n:
            return None, "eof"
        m = _TOKEN.match(self.data, self.pos)
        g = m.lastindex
        self.pos = m.end()
        if g is None:
            return None, "eof"
        raw = m.group(g)
        if g == _INT:
            return int(raw), "num"
        if g == _DEC:
            return float(raw), "num"
        if g == _NUM:
            return _number(raw), "num"
        if g == _NAME:
            return _name(raw), "name"
        if g == _STRING:
            self.pos = m.start(g)
            if raw == b"(":
                return self._string_literal(), "str"
            return self._hex_string(), "str"
        if g == _OPEN:
            return (("<<", "dict_open") if raw == b"<<"
                    else ("[", "arr_open"))
        if g == _WORD:
            kw = _KEYWORDS.get(raw)
            if kw is not None:
                return kw
        elif raw in _CLOSERS:
            return _CLOSERS[raw]
        return raw.decode("latin-1"), "op"

    def _string_literal(self) -> bytes:
        d, n = self.data, self.n
        self.pos += 1
        out = bytearray()
        depth = 1
        plain = _PLAIN.match
        while self.pos < n:
            m = plain(d, self.pos)
            if m is not None:
                out += m.group()
                self.pos = m.end()
                if self.pos >= n:
                    break
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8,
                                0x66: 12}[e])
                    self.pos += 1
                elif e in b"01234567":
                    oct_digits = bytearray()
                    while (self.pos < n and len(oct_digits) < 3
                           and d[self.pos] in b"01234567"):
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e == 0x0A:
                    self.pos += 1
                elif e == 0x0D:
                    self.pos += 1
                    if self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            else:  # ')'
                depth -= 1
                self.pos += 1
                if depth == 0:
                    break
                out.append(c)
        return bytes(out)

    def _hex_string(self) -> bytes:
        d, n = self.data, self.n
        self.pos += 1
        digits = bytearray()
        while self.pos < n and d[self.pos] != 0x3E:
            if d[self.pos] not in _WS:
                digits.append(d[self.pos])
            self.pos += 1
        self.pos += 1  # >
        if len(digits) % 2:
            digits.append(0x30)
        try:
            return bytes.fromhex(digits.decode("latin-1"))
        except ValueError:
            return b""

    # -- recursive object parse --

    def parse_object(self):
        tok, kind = self.next_token()
        return self._parse_from(tok, kind)

    def _parse_from(self, tok, kind):
        if kind == "dict_open":
            d = {}
            while True:
                t, k = self.next_token()
                if k in ("dict_close", "eof"):
                    return d
                if k != "name":
                    continue  # malformed key; resync
                d[str(t)] = self.parse_object()
        if kind == "arr_open":
            arr = []
            while True:
                save = self.pos
                t, k = self.next_token()
                if k in ("arr_close", "eof"):
                    return arr
                self.pos = save
                arr.append(self.parse_object())
        if kind == "num" and isinstance(tok, int):
            # maybe "num gen R"
            save = self.pos
            t2, k2 = self.next_token()
            if k2 == "num" and isinstance(t2, int):
                t3, k3 = self.next_token()
                if k3 == "op" and t3 == "R":
                    return Ref(tok, t2)
            self.pos = save
            return tok
        return tok


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def _apply_predictor(data: bytes, params: dict) -> bytes:
    pred = params.get("Predictor", 1)
    if pred <= 1:
        return data
    colors = params.get("Colors", 1)
    bpc = params.get("BitsPerComponent", 8)
    columns = params.get("Columns", 1)
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:  # TIFF
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for i in range(bpp, rowlen):
                out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: each row prefixed with a filter byte
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 <= len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + rowlen])
        pos += 1 + rowlen
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % kl]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = ch ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


# ---------------------------------------------------------------------------
# stream codecs: LZW + RunLength (ISO 32000 §7.4.2/§7.4.5)
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode: 9..12-bit variable codes, clear=256, EOD=257."""
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bits = 9
    prev: Optional[bytes] = None
    buf = 0
    nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= bits:
            code = (buf >> (nbits - bits)) & ((1 << bits) - 1)
            nbits -= bits
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                bits = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad LZW start code")
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):
                    entry = prev + prev[:1]
                else:
                    raise ValueError("bad LZW code")
                table.append(prev + entry[:1])
                # early change: width grows one code early (default),
                # i.e. when the NEXT assignable code is (1<<bits)-1
                if len(table) + early_change >= (1 << bits) \
                        and bits < 12:
                    bits += 1
            out += entry
            prev = entry
    return bytes(out)


def _rl_decode(data: bytes) -> bytes:
    """PDF RunLengthDecode: L<128 copy L+1; L>128 repeat 257-L; 128=EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i:i + length + 1]
            i += length + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - length)
                i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# AES (FIPS-197) — pure Python, needed for AESV2 (V4/R4) and V5/R6
# crypt filters; stdlib has no AES primitive. Tables generated from the
# GF(2^8) arithmetic, not typed in.
# ---------------------------------------------------------------------------


def _aes_tables():
    exp = [0] * 510
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= ((x << 1) ^ (0x11B if x & 0x80 else 0)) & 0x1FF
        x &= 0xFF
    for i in range(255, 510):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    for i in range(256):
        inv = 0 if i == 0 else exp[255 - log[i]]
        s = inv
        v = inv
        for _ in range(4):
            s = ((s << 1) | (s >> 7)) & 0xFF
            v ^= s
        sbox[i] = v ^ 0x63
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i

    def gmul(a, b):
        if a == 0 or b == 0:
            return 0
        return exp[log[a] + log[b]]

    return sbox, inv_sbox, gmul


_SBOX, _INV_SBOX, _GMUL = _aes_tables()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
         0x6C, 0xD8, 0xAB, 0x4D]


class _AES:
    """Block cipher only (both directions); CBC helpers below."""

    def __init__(self, key: bytes):
        nk = len(key) // 4
        if nk not in (4, 6, 8):
            raise ValueError("AES key must be 128/192/256 bits")
        self.nr = nk + 6
        w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
        for i in range(nk, 4 * (self.nr + 1)):
            t = list(w[i - 1])
            if i % nk == 0:
                t = t[1:] + t[:1]
                t = [_SBOX[b] for b in t]
                t[0] ^= _RCON[i // nk - 1]
            elif nk > 6 and i % nk == 4:
                t = [_SBOX[b] for b in t]
            w.append([w[i - nk][j] ^ t[j] for j in range(4)])
        self.rk = [b"".join(bytes(w[4 * r + c]) for c in range(4))
                   for r in range(self.nr + 1)]

    @staticmethod
    def _add(state, rk):
        return bytes(a ^ b for a, b in zip(state, rk))

    def encrypt_block(self, block: bytes) -> bytes:
        s = self._add(block, self.rk[0])
        for rnd in range(1, self.nr + 1):
            s = bytes(_SBOX[b] for b in s)
            # ShiftRows on column-major state: byte index r + 4c
            s = bytes(s[(i + 4 * (i % 4)) % 16] for i in range(16))
            if rnd < self.nr:
                t = bytearray(16)
                for c in range(4):
                    col = s[4 * c:4 * c + 4]
                    t[4 * c + 0] = (_GMUL(col[0], 2) ^ _GMUL(col[1], 3)
                                    ^ col[2] ^ col[3])
                    t[4 * c + 1] = (col[0] ^ _GMUL(col[1], 2)
                                    ^ _GMUL(col[2], 3) ^ col[3])
                    t[4 * c + 2] = (col[0] ^ col[1] ^ _GMUL(col[2], 2)
                                    ^ _GMUL(col[3], 3))
                    t[4 * c + 3] = (_GMUL(col[0], 3) ^ col[1] ^ col[2]
                                    ^ _GMUL(col[3], 2))
                s = bytes(t)
            s = self._add(s, self.rk[rnd])
        return s

    def decrypt_block(self, block: bytes) -> bytes:
        s = self._add(block, self.rk[self.nr])
        for rnd in range(self.nr - 1, -1, -1):
            # InvShiftRows then InvSubBytes
            s = bytes(s[(i - 4 * (i % 4)) % 16] for i in range(16))
            s = bytes(_INV_SBOX[b] for b in s)
            s = self._add(s, self.rk[rnd])
            if rnd > 0:
                t = bytearray(16)
                for c in range(4):
                    col = s[4 * c:4 * c + 4]
                    t[4 * c + 0] = (_GMUL(col[0], 14) ^ _GMUL(col[1], 11)
                                    ^ _GMUL(col[2], 13) ^ _GMUL(col[3], 9))
                    t[4 * c + 1] = (_GMUL(col[0], 9) ^ _GMUL(col[1], 14)
                                    ^ _GMUL(col[2], 11) ^ _GMUL(col[3], 13))
                    t[4 * c + 2] = (_GMUL(col[0], 13) ^ _GMUL(col[1], 9)
                                    ^ _GMUL(col[2], 14) ^ _GMUL(col[3], 11))
                    t[4 * c + 3] = (_GMUL(col[0], 11) ^ _GMUL(col[1], 13)
                                    ^ _GMUL(col[2], 9) ^ _GMUL(col[3], 14))
                s = bytes(t)
        return s


def _aes_cbc_decrypt(key: bytes, data: bytes,
                     strip_padding: bool = True) -> bytes:
    """PDF convention: data = IV(16) + ciphertext; padding per
    RFC 2898 unless strip_padding is False (the /UE case)."""
    if len(data) < 16:
        return b""
    aes = _AES(key)
    iv = data[:16]
    ct = data[16:]
    ct = ct[: len(ct) - len(ct) % 16]
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        blk = ct[i:i + 16]
        out += bytes(a ^ b for a, b in zip(aes.decrypt_block(blk), prev))
        prev = blk
    if strip_padding and out:
        pad = out[-1]
        if 1 <= pad <= 16:
            out = out[:-pad]
    return bytes(out)


def _aes_cbc_decrypt_noiv(key: bytes, data: bytes) -> bytes:
    """CBC with an all-zero IV and no padding (ISO 32000-2 /UE, /OE)."""
    return _aes_cbc_decrypt(key, b"\x00" * 16 + data,
                            strip_padding=False)


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """No padding added (callers supply block-aligned input — the R6
    hardened hash and the test fixture writers)."""
    aes = _AES(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i:i + 16], prev))
        prev = aes.encrypt_block(blk)
        out += prev
    return bytes(out)


def _r6_hash(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B hardened hash (R6)."""
    from hashlib import sha256, sha384, sha512

    h = sha256(password + salt + udata).digest()
    count = 0
    while True:
        count += 1
        k1 = (password + h + udata) * 64
        e = _aes_cbc_encrypt(h[:16], h[16:32], k1)
        h = (sha256, sha384, sha512)[sum(e[:16]) % 3](e).digest()
        if count >= 64 and e[-1] <= count - 32:
            return h[:32]


# ---------------------------------------------------------------------------
# the document
# ---------------------------------------------------------------------------


class MiniPdf:
    def __init__(self, data: bytes):
        self.data = data
        self.objects: Dict[int, Tuple[int, Optional[int]]] = {}
        # num -> (offset, None) for direct, (objstm_num, index) wrapped
        self._cache: Dict[int, object] = {}
        self.trailer: dict = {}
        self._enc_key: Optional[bytes] = None
        # xref-derived truth: num -> ("direct", offset) | ("objstm",
        # stm_num, member_index); empty when no parseable xref chain.
        self._xref: Dict[int, tuple] = {}
        self._xref_direct: set = set()
        self._scan_objects()
        self._load_xref_chain()
        self._apply_xref()
        #: objects the trailer search parsed without decryption; they
        #: are the parsed objects themselves when nothing is encrypted
        self._scanned: Dict[int, object] = {}
        self._load_trailer()
        self._setup_encryption()
        if self._enc_key is None:
            for num, obj in self._scanned.items():
                self._cache.setdefault(num, obj)
        self._scanned = {}
        self._expand_object_streams()

    # -- object discovery --

    def _scan_objects(self):
        """Brute-force scan: tolerant of broken/linearized xrefs.
        Later definitions win (incremental updates come later in the
        file)."""
        for m in re.finditer(rb"(?:^|[\r\n\s])(\d{1,7})\s+(\d+)\s+obj\b",
                             self.data):
            self.objects[int(m.group(1))] = (m.start(1), None)

    # -- cross-reference chain (ISO 32000 §7.5) --

    def _load_xref_chain(self):
        """Follow startxref -> /Prev, newest section first.

        First-seen wins per object number (the live version is the one
        in the newest section that mentions it — the 'incremental
        update' rule). Any malformed section is skipped; the brute scan
        above remains the safety net. Trailer keys are taken
        newest-first, which fixes Root/Encrypt for incrementally
        updated files."""
        m = None
        for m2 in re.finditer(rb"startxref\s+(\d+)", self.data[-2048:]):
            m = m2
        if m is None:
            return
        off = int(m.group(1))
        seen_offsets: set = set()
        queue = [off]
        while queue:
            off = queue.pop(0)
            if off in seen_offsets or not (0 <= off < len(self.data)):
                continue
            seen_offsets.add(off)
            try:
                prevs = self._parse_xref_section(off)
            except Exception:
                continue
            queue.extend(prevs)

    def _parse_xref_section(self, off: int) -> List[int]:
        """One xref section (classic table or /XRef stream) at `off`.
        Returns follow-up offsets (/Prev, hybrid /XRefStm)."""
        lex = Lexer(self.data, off)
        lex._skip_ws()
        follow: List[int] = []
        if self.data[lex.pos:lex.pos + 4] == b"xref":
            lex.pos += 4
            while True:
                lex._skip_ws()
                if self.data[lex.pos:lex.pos + 7] == b"trailer":
                    lex.pos += 7
                    d = lex.parse_object()
                    if isinstance(d, dict):
                        self._absorb_trailer(d)
                        # hybrid-reference file: the XRefStm section
                        # holds entries hidden from classic readers —
                        # same generation as this table, so parse it
                        # before /Prev.
                        if isinstance(d.get("XRefStm"), int):
                            follow.insert(0, d["XRefStm"])
                        if isinstance(d.get("Prev"), int):
                            follow.append(d["Prev"])
                    break
                start = lex.next_token()
                count = lex.next_token()
                if not isinstance(start, int) or not isinstance(count, int):
                    break
                for i in range(min(count, 1 << 22)):
                    lex._skip_ws()
                    line = self.data[lex.pos:lex.pos + 20]
                    em = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", line)
                    if not em:
                        raise ValueError("bad xref entry")
                    lex.pos += em.end()
                    num = start + i
                    if em.group(3) == b"n" and num not in self._xref:
                        self._xref[num] = ("direct", int(em.group(1)))
            return follow
        # else: cross-reference stream object
        stm = self._parse_at(off, decrypt=False)
        if not isinstance(stm, Stream) or stm.dict.get("Type") != "XRef":
            raise ValueError("not an xref section")
        self._absorb_trailer(stm.dict)
        if isinstance(stm.dict.get("Prev"), int):
            follow.append(stm.dict["Prev"])
        data = self.stream_data(stm)
        w = stm.dict.get("W") or []
        if not (isinstance(w, list) and len(w) >= 3):
            raise ValueError("bad /W")
        w = [x if isinstance(x, int) else 0 for x in w[:3]]
        rowlen = sum(w)
        if rowlen <= 0:
            raise ValueError("zero-width xref row")
        size = stm.dict.get("Size", 0)
        index = stm.dict.get("Index") or [0, size]
        pos = 0

        def field(width, default):
            nonlocal pos
            if width == 0:
                return default
            v = int.from_bytes(data[pos:pos + width], "big")
            pos += width
            return v

        for j in range(0, len(index) - 1, 2):
            first, count = index[j], index[j + 1]
            if not (isinstance(first, int) and isinstance(count, int)):
                continue
            for i in range(min(count, 1 << 22)):
                if pos + rowlen > len(data):
                    return follow
                typ = field(w[0], 1)
                f2 = field(w[1], 0)
                f3 = field(w[2], 0)
                _ = f3
                num = first + i
                if num in self._xref:
                    continue
                if typ == 1:
                    self._xref[num] = ("direct", f2)
                elif typ == 2:
                    self._xref[num] = ("objstm", f2, f3)
        return follow

    def _absorb_trailer(self, d: dict):
        for k in ("Root", "Encrypt", "ID", "Info"):
            if k in d and k not in self.trailer:
                self.trailer[k] = d[k]

    def _apply_xref(self):
        """Overlay xref truth on the brute-scan map.

        Direct entries override the scan when the claimed offset really
        holds `num gen obj` (broken offsets keep the scan result);
        objstm entries are remembered so _expand_object_streams lets the
        owning stream's member override any stale direct definition —
        the ADVICE r2 fix for incrementally-updated PDFs whose newest
        object versions live in object streams."""
        self._objstm_owner: Dict[int, Tuple[int, int]] = {}
        for num, loc in self._xref.items():
            if loc[0] == "direct":
                off = loc[1]
                m = re.match(rb"\s*(\d{1,7})\s+(\d+)\s+obj\b",
                             self.data[off:off + 32])
                if m and int(m.group(1)) == num:
                    self.objects[num] = (off + m.start(1), None)
                    self._xref_direct.add(num)
            else:
                self._objstm_owner[num] = (loc[1], loc[2])

    def _load_trailer(self):
        # classic trailers + xref-stream dicts; collect Root/Encrypt/ID
        for m in re.finditer(rb"trailer", self.data):
            lex = Lexer(self.data, m.end())
            try:
                d = lex.parse_object()
            except Exception:
                continue
            if isinstance(d, dict):
                for k in ("Root", "Encrypt", "ID", "Info"):
                    if k in d and k not in self.trailer:
                        self.trailer[k] = d[k]
        if "Root" not in self.trailer or "ID" not in self.trailer:
            # xref streams carry the trailer dict
            for num, (off, inner) in list(self.objects.items()):
                if inner is not None:
                    continue
                obj = self._scanned[num] = self._parse_at(off, decrypt=False)
                if isinstance(obj, Stream) and \
                        obj.dict.get("Type") == "XRef":
                    for k in ("Root", "Encrypt", "ID", "Info"):
                        if k in obj.dict and k not in self.trailer:
                            self.trailer[k] = obj.dict[k]

    # -- encryption --

    def _setup_encryption(self):
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref, decrypt=False)
        if isinstance(enc, Stream):
            enc = enc.dict
        if not isinstance(enc, dict) or enc.get("Filter") != "Standard":
            raise ValueError("unsupported encryption handler")
        v = enc.get("V", 0)
        r = enc.get("R", 2)
        self._enc_scheme = "rc4"
        if v == 5 or r >= 5:
            # ISO 32000-2 AES-256 (R5 plain / R6 hardened hash); empty
            # user password, like the RC4 path
            u = enc.get("U") or b""
            ue = enc.get("UE") or b""
            if len(u) < 48 or len(ue) < 32:
                raise ValueError("malformed V5 /U //UE")
            key_salt = u[40:48]
            if r == 5:
                from hashlib import sha256

                intermediate = sha256(b"" + key_salt).digest()
            else:
                intermediate = _r6_hash(b"", key_salt)
            self._enc_key = _aes_cbc_decrypt_noiv(intermediate, ue[:32])
            self._enc_scheme = "aesv3"
            self._enc_r = r
            return
        if r > 4 or v > 4:
            raise ValueError(f"unsupported encryption R={r} V={v}")
        if v == 4:
            cf = self.resolve(enc.get("CF", {}), decrypt=False) or {}
            stdcf = cf.get("StdCF", {})
            cfm = stdcf.get("CFM") if isinstance(stdcf, dict) else None
            if cfm == "AESV2":
                self._enc_scheme = "aesv2"
            elif cfm not in ("V2", None):
                raise ValueError(f"unsupported crypt filter {cfm}")
        length = enc.get("Length", 40) // 8
        o = enc["O"]
        p = enc["P"] & 0xFFFFFFFF
        ids = self.trailer.get("ID") or [b""]
        id0 = ids[0] if isinstance(ids, list) else b""
        if isinstance(id0, str):
            id0 = id0.encode("latin-1")
        h = md5(_PAD)  # empty user password -> pad only
        h.update(o if isinstance(o, bytes) else bytes(o))
        h.update(struct.pack("<I", p))
        h.update(id0)
        if r >= 4 and enc.get("EncryptMetadata", True) is False:
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        if r >= 3:
            for _ in range(50):
                key = md5(key[:length]).digest()
        self._enc_key = key[:length]
        self._enc_r = r

    def _obj_key(self, num: int, gen: int, aes: bool = False) -> bytes:
        k = self._enc_key + struct.pack("<I", num)[:3] \
            + struct.pack("<I", gen)[:2]
        if aes:
            k += b"sAlT"  # ISO 32000 §7.6.2 AESV2 salt
        return md5(k).digest()[:min(len(self._enc_key) + 5, 16)]

    def _decrypt(self, data: bytes, num: int, gen: int) -> bytes:
        if self._enc_key is None:
            return data
        scheme = getattr(self, "_enc_scheme", "rc4")
        if scheme == "aesv2":
            return _aes_cbc_decrypt(self._obj_key(num, gen, aes=True),
                                    data)
        if scheme == "aesv3":
            # AES-256: the file key is used directly, no per-object key
            return _aes_cbc_decrypt(self._enc_key, data)
        return _rc4(self._obj_key(num, gen), data)

    # -- object access --

    def _parse_at(self, offset: int, num: int = 0, gen: int = 0,
                  decrypt: bool = True):
        lex = Lexer(self.data, offset)
        lex.next_token()  # num
        lex.next_token()  # gen
        lex.next_token()  # obj
        obj = lex.parse_object()
        if isinstance(obj, dict):
            lex._skip_ws()
            if self.data[lex.pos:lex.pos + 6] == b"stream":
                lex.pos += 6
                if self.data[lex.pos:lex.pos + 2] == b"\r\n":
                    lex.pos += 2
                elif self.data[lex.pos:lex.pos + 1] in (b"\n", b"\r"):
                    lex.pos += 1
                ln = obj.get("Length")
                if isinstance(ln, Ref):
                    ln = self.resolve(ln, decrypt=False)
                if not isinstance(ln, int):
                    e = self.data.find(b"endstream", lex.pos)
                    ln = max(0, e - lex.pos)
                raw = self.data[lex.pos:lex.pos + ln]
                if decrypt and self._enc_key is not None and \
                        obj.get("Type") not in ("XRef",):
                    raw = self._decrypt(raw, num, gen)
                return Stream(obj, raw)
        if decrypt and self._enc_key is not None:
            obj = self._decrypt_strings(obj, num, gen)
        return obj

    def _decrypt_strings(self, obj, num, gen):
        if isinstance(obj, bytes):
            return self._decrypt(obj, num, gen)
        if isinstance(obj, dict):
            return {k: self._decrypt_strings(v, num, gen)
                    for k, v in obj.items()}
        if isinstance(obj, list):
            return [self._decrypt_strings(v, num, gen) for v in obj]
        return obj

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        loc = self.objects.get(num)
        if loc is None:
            return None
        off, inner = loc
        if inner is None:
            obj = self._parse_at(off, num, 0)
        else:
            obj = self._objstm_member(off, inner)
        self._cache[num] = obj
        return obj

    def resolve(self, obj, decrypt: bool = True):
        seen = 0
        while isinstance(obj, Ref) and seen < 32:
            obj = self.get(obj.num)
            seen += 1
        return obj

    # -- object streams --

    def _expand_object_streams(self):
        for num in list(self.objects):
            off, inner = self.objects[num]
            if inner is not None:
                continue
            try:
                obj = self.get(num)
            except Exception:
                continue
            if isinstance(obj, Stream) and obj.dict.get("Type") == "ObjStm":
                try:
                    data = self.stream_data(obj)
                    n = self.resolve(obj.dict.get("N", 0))
                    first = self.resolve(obj.dict.get("First", 0))
                    lex = Lexer(data, 0)
                    pairs = []
                    for _ in range(n):
                        onum, _ = lex.next_token()
                        ooff, _ = lex.next_token()
                        pairs.append((onum, ooff))
                    stm_off = off
                    for idx, (onum, ooff) in enumerate(pairs):
                        if not self._objstm_member_wins(
                                onum, num, idx, stm_off):
                            continue
                        # pre-parse members now (no re-decrypt:
                        # objstm members are never encrypted twice)
                        mlex = Lexer(data, first + ooff)
                        self._cache[onum] = mlex.parse_object()
                        self.objects[onum] = (num, ooff)
                except Exception:
                    continue

    def _objstm_member_wins(self, onum: int, stm_num: int, idx: int,
                            stm_off: int) -> bool:
        """Does this ObjStm member define the live version of `onum`?

        Priority order: (1) the xref chain names this stream+index as
        the owner; (2) the xref names a direct object -> keep it;
        (3) no xref verdict -> 'later definitions win' by file
        position: a member of a stream that sits later in the file than
        the scanned direct offset supersedes it (incremental update
        heuristic, ADVICE r2)."""
        owner = self._objstm_owner.get(onum)
        if owner is not None:
            return owner[0] == stm_num
        if onum in self._xref_direct:
            return False
        cur = self.objects.get(onum)
        if cur is None:
            return True
        cur_off, cur_inner = cur
        if cur_inner is not None:
            return False  # already owned by an (earlier-won) objstm
        return stm_off > cur_off

    def _objstm_member(self, stm_num: int, ooff: int):
        stm = self.get(stm_num)
        data = self.stream_data(stm)
        first = self.resolve(stm.dict.get("First", 0))
        return Lexer(data, first + ooff).parse_object()

    # -- stream decoding --

    def stream_data(self, stm: Stream) -> bytes:
        data = stm.raw
        filters = self.resolve(stm.dict.get("Filter"))
        if filters is None:
            filters = []
        if not isinstance(filters, list):
            filters = [filters]
        params = self.resolve(stm.dict.get("DecodeParms"))
        if not isinstance(params, list):
            params = [params] * len(filters)
        for f, pr in zip(filters, params):
            f = self.resolve(f)
            pr = self.resolve(pr) or {}
            if f == "FlateDecode" or f == "Fl":
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    try:
                        data = zlib.decompressobj().decompress(data)
                    except zlib.error:
                        return b""
                data = _apply_predictor(
                    data, {k: self.resolve(v) for k, v in pr.items()})
            elif f == "ASCIIHexDecode":
                h = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
                if len(h) % 2:
                    h += b"0"
                data = bytes.fromhex(h.decode("latin-1"))
            elif f == "ASCII85Decode":
                import base64
                body = data.split(b"~>")[0].replace(b"\n", b"") \
                    .replace(b"\r", b"").replace(b" ", b"")
                try:
                    data = base64.a85decode(body)
                except Exception:
                    return b""
            elif f == "LZWDecode" or f == "LZW":
                prm = {k: self.resolve(v) for k, v in pr.items()}
                try:
                    data = _lzw_decode(
                        data, early_change=prm.get("EarlyChange", 1))
                except Exception:
                    return b""
                data = _apply_predictor(data, prm)
            elif f == "RunLengthDecode" or f == "RL":
                data = _rl_decode(data)
            else:
                # DCTDecode etc: image data, not text — skip
                return b""
        return data

    # -- page tree --

    def pages(self) -> List[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            # fallback: find /Type /Catalog object
            for num in self.objects:
                o = self.get(num)
                if isinstance(o, dict) and o.get("Type") == "Catalog":
                    root = o
                    break
        out: List[dict] = []
        if not isinstance(root, dict):
            return out
        node = self.resolve(root.get("Pages"))
        inherit_keys = ("Resources", "MediaBox", "Rotate", "CropBox")
        # duplicated or cyclic Kids refs (Kids=[X,X] nested) would
        # otherwise expand exponentially (ADVICE r2): each referenced
        # node is walked at most once (global visited set — the same
        # policy pdfminer applies), and total emitted pages are capped.
        visited: set = set()
        _MAX_PAGES = 100_000

        def walk(n, inherited, depth=0, ref_id=None):
            if not isinstance(n, dict) or depth > 64 \
                    or len(out) >= _MAX_PAGES:
                return
            if ref_id is not None:
                if ref_id in visited:
                    return
                visited.add(ref_id)
            inh = dict(inherited)
            for k in inherit_keys:
                if k in n:
                    inh[k] = n[k]
            t = n.get("Type")
            if t == "Pages" or ("Kids" in n and t != "Page"):
                for kid in self.resolve(n.get("Kids")) or []:
                    kid_id = ((kid.num, kid.gen)
                              if isinstance(kid, Ref) else None)
                    walk(self.resolve(kid), inh, depth + 1, kid_id)
            elif t == "Page":
                pg = dict(n)
                for k in inherit_keys:
                    pg.setdefault(k, inh.get(k))
                out.append(pg)

        walk(node, {})
        return out

    def page_content(self, page: dict) -> bytes:
        c = self.resolve(page.get("Contents"))
        parts: List[bytes] = []
        if isinstance(c, Stream):
            parts.append(self.stream_data(c))
        elif isinstance(c, list):
            for item in c:
                s = self.resolve(item)
                if isinstance(s, Stream):
                    parts.append(self.stream_data(s))
        return b"\n".join(parts)


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------

# Standard-14 AFM widths (VERDICT r3 item 5): sources/afm14.py carries
# the published Adobe Core-14 advances (ASCII range), applied with
# pdfminer's precedence — an exact std-14 BaseFont name uses the AFM
# table and IGNORES any /Widths array (pdffont.py PDFType1Font tries
# the metrics DB first). Non-std14 simple fonts fall back to /Widths,
# then MissingWidth/500.


def _parse_tounicode(cmap_bytes: bytes) -> Dict[int, str]:
    """bfchar/bfrange CMap -> {code: unicode}."""
    out: Dict[int, str] = {}
    txt = cmap_bytes

    def _hex2int(b: bytes) -> int:
        return int(b, 16)

    def _hex2str(b: bytes) -> str:
        raw = bytes.fromhex(b.decode("latin-1"))
        if len(raw) % 2:
            raw = b"\x00" + raw
        try:
            return raw.decode("utf-16-be")
        except UnicodeDecodeError:
            return raw.decode("latin-1", "replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", txt, re.S):
        for cm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                              m.group(1)):
            out[_hex2int(cm.group(1))] = _hex2str(cm.group(2))
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", txt, re.S):
        body = m.group(1)
        pos = 0
        pat_rng = re.compile(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])")
        for cm in pat_rng.finditer(body):
            lo, hi = _hex2int(cm.group(1)), _hex2int(cm.group(2))
            if cm.group(3) is not None:
                base = int(cm.group(3), 16)
                width = len(cm.group(3))
                # clamp: a corrupt/malicious <0000> <FFFFFFFF> range
                # must not hang the executor (mirrors Font._parse_w's
                # 65535 cap; ADVICE r2)
                for i in range(min(hi - lo + 1, 65536)):
                    h = b"%0*X" % (width, base + i)
                    if len(h) % 2:  # base+i outgrew the declared width
                        h = b"0" + h
                    out[lo + i] = _hex2str(h)
            else:
                items = re.findall(rb"<([0-9A-Fa-f]+)>", cm.group(4))
                for i, it in enumerate(items):
                    if lo + i <= hi:
                        out[lo + i] = _hex2str(it)
        _ = pos
    return out


def _ttf_gid_to_unicode(ttf: bytes) -> Dict[int, str]:
    """Embedded TrueType font -> {glyph_id: unicode}.

    Subset fonts written by macOS Quartz (the form10k fixture) carry an
    EMPTY ToUnicode CMap; with Identity-H the character code IS the
    glyph id, so inverting the font's own 'cmap' table (unicode ->
    gid; formats 4, 12, 6, 0) recovers the text — the same fallback
    pdfminer's TrueTypeFont.create_unicode_map implements."""
    out: Dict[int, str] = {}
    try:
        if len(ttf) < 12:
            return out
        num_tables = struct.unpack(">H", ttf[4:6])[0]
        cmap_off = None
        for i in range(num_tables):
            e = 12 + 16 * i
            tag = ttf[e:e + 4]
            if tag == b"cmap":
                cmap_off = struct.unpack(">I", ttf[e + 8:e + 12])[0]
                break
        if cmap_off is None or cmap_off + 4 > len(ttf):
            return out
        n_sub = struct.unpack(">H", ttf[cmap_off + 2:cmap_off + 4])[0]
        subtables = []
        for i in range(n_sub):
            e = cmap_off + 4 + 8 * i
            pid, eid, off = struct.unpack(">HHI", ttf[e:e + 8])
            subtables.append((pid, eid, cmap_off + off))
        # preference: (3,10) ucs4, (3,1) bmp, (0,*), then anything
        def rank(t):
            pid, eid, _ = t
            if (pid, eid) == (3, 10):
                return 0
            if (pid, eid) == (3, 1):
                return 1
            if pid == 0:
                return 2
            return 3
        for pid, eid, off in sorted(subtables, key=rank):
            fmt = struct.unpack(">H", ttf[off:off + 2])[0]
            if fmt == 4:
                seg_x2 = struct.unpack(">H", ttf[off + 6:off + 8])[0]
                seg = seg_x2 // 2
                ends = struct.unpack(
                    f">{seg}H", ttf[off + 14:off + 14 + seg_x2])
                p = off + 16 + seg_x2
                starts = struct.unpack(f">{seg}H", ttf[p:p + seg_x2])
                p += seg_x2
                deltas = struct.unpack(f">{seg}h", ttf[p:p + seg_x2])
                p += seg_x2
                range_off_base = p
                range_offs = struct.unpack(f">{seg}H", ttf[p:p + seg_x2])
                for s in range(seg):
                    if starts[s] == 0xFFFF:
                        continue
                    for code in range(starts[s], min(ends[s], 0xFFFE) + 1):
                        if range_offs[s] == 0:
                            gid = (code + deltas[s]) & 0xFFFF
                        else:
                            gp = (range_off_base + 2 * s + range_offs[s]
                                  + 2 * (code - starts[s]))
                            if gp + 2 > len(ttf):
                                continue
                            gid = struct.unpack(">H", ttf[gp:gp + 2])[0]
                            if gid:
                                gid = (gid + deltas[s]) & 0xFFFF
                        if gid and gid not in out:
                            out[gid] = chr(code)
                break
            if fmt == 12:
                n_groups = struct.unpack(">I", ttf[off + 12:off + 16])[0]
                for g in range(min(n_groups, 100000)):
                    e = off + 16 + 12 * g
                    s_code, e_code, s_gid = struct.unpack(
                        ">III", ttf[e:e + 12])
                    for j in range(min(e_code - s_code + 1, 10000)):
                        gid = s_gid + j
                        if gid not in out:
                            out[gid] = chr(s_code + j)
                break
            if fmt == 6:
                first, count = struct.unpack(
                    ">HH", ttf[off + 6:off + 10])
                gids = struct.unpack(
                    f">{count}H", ttf[off + 10:off + 10 + 2 * count])
                for j, gid in enumerate(gids):
                    if gid and gid not in out:
                        out[gid] = chr(first + j)
                break
            if fmt == 0:
                gids = ttf[off + 6:off + 6 + 256]
                for code, gid in enumerate(gids):
                    if gid and gid not in out:
                        out[gid] = chr(code)
                break
    except Exception:
        return out
    return out


# minimal glyph-name -> char map for /Differences (common names only)
_GLYPH_NAMES = {
    "space": " ", "period": ".", "comma": ",", "hyphen": "-",
    "colon": ":", "semicolon": ";", "slash": "/", "percent": "%",
    "ampersand": "&", "parenleft": "(", "parenright": ")",
    "plus": "+", "minus": "−", "equal": "=", "dollar": "$",
    "quotesingle": "'", "quotedbl": '"', "quoteright": "’",
    "quoteleft": "‘", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "asterisk": "*", "numbersign": "#",
    "at": "@", "question": "?", "exclam": "!", "underscore": "_",
    "bracketleft": "[", "bracketright": "]", "less": "<",
    "greater": ">", "bar": "|", "section": "§",
    "euro": "€", "sterling": "£",
}
for _i in range(10):
    _GLYPH_NAMES["zero one two three four five six seven eight nine"
                 .split()[_i]] = str(_i)
for _c in "abcdefghijklmnopqrstuvwxyz":
    _GLYPH_NAMES[_c] = _c
    _GLYPH_NAMES[_c.upper()] = _c.upper()


class Font:
    """Uniform interface: decode(bytes) -> [(code, unicode, w0/1000)]"""

    def __init__(self, pdf: MiniPdf, fdict: dict):
        self.pdf = pdf
        self.d = fdict
        self._decode_cache: Dict[bytes, list] = {}
        self._glyphs: Dict[int, tuple] = {}
        self.subtype = fdict.get("Subtype")
        self.composite = self.subtype == "Type0"
        base = pdf.resolve(fdict.get("BaseFont")) or ""
        self.bold = "bold" in str(base).lower()
        self.descent = -0.2
        self.tounicode = {}
        tu = pdf.resolve(fdict.get("ToUnicode"))
        if isinstance(tu, Stream):
            try:
                self.tounicode = _parse_tounicode(pdf.stream_data(tu))
            except Exception:
                self.tounicode = {}
        if self.composite:
            desc = pdf.resolve(fdict.get("DescendantFonts"))
            cid = pdf.resolve(desc[0]) if desc else {}
            self.cid = cid if isinstance(cid, dict) else {}
            self.default_width = pdf.resolve(
                self.cid.get("DW", 1000)) or 1000
            self.widths = self._parse_w(
                pdf.resolve(self.cid.get("W")) or [])
            fd = pdf.resolve(self.cid.get("FontDescriptor"))
            enc = pdf.resolve(fdict.get("Encoding"))
            self.identity = (isinstance(enc, str)
                             and enc.startswith("Identity"))
            if not self.tounicode and self.identity \
                    and isinstance(fd, dict):
                ff = pdf.resolve(fd.get("FontFile2"))
                if isinstance(ff, Stream):
                    # empty ToUnicode + Identity-H: code == gid, so the
                    # embedded TrueType cmap (inverted) IS the text map
                    self.tounicode = _ttf_gid_to_unicode(
                        pdf.stream_data(ff))
        else:
            from parsee_pdf_reader_spark.sources.afm14 import (
                builtin_encoding, std14_table,
            )

            # exact standard-14 name -> AFM widths take precedence
            # over /Widths (pdfminer PDFType1Font semantics; TrueType
            # subclasses it, Type3 never consults the metrics DB).
            # Symbolic standard fonts (Symbol) also carry their
            # BUILT-IN encoding: code -> unicode, consulted after
            # ToUnicode/Differences but before the Latin byte codecs
            # (a Symbol byte 0x61 is alpha, not 'a').
            self.std14 = (std14_table(str(base))
                          if self.subtype != "Type3" else None)
            self.builtin_map = (builtin_encoding(str(base))
                                if self.subtype != "Type3" else None)
            self.first_char = pdf.resolve(fdict.get("FirstChar", 0)) or 0
            w = pdf.resolve(fdict.get("Widths")) or []
            self.simple_widths = [pdf.resolve(x) or 0 for x in w]
            # Type3 glyph space is defined by /FontMatrix, not /1000
            # (ISO 32000 §9.6.5): width in text space = w * matrix[0].
            # None = the /1000 convention (kept as division so default
            # geometry stays bit-identical).
            self.simple_scale = None
            if self.subtype == "Type3":
                fm = pdf.resolve(fdict.get("FontMatrix"))
                if isinstance(fm, list) and len(fm) == 6:
                    try:
                        self.simple_scale = float(pdf.resolve(fm[0]))
                    except (TypeError, ValueError):
                        pass
            fd = pdf.resolve(fdict.get("FontDescriptor"))
            self.diff_map: Dict[int, str] = {}
            enc = pdf.resolve(fdict.get("Encoding"))
            # named byte encodings: WinAnsi is cp1252 (0x80-0x9F carry
            # quotes/dashes that latin-1 maps to control chars),
            # MacRoman is mac_roman
            enc_name = None
            if isinstance(enc, str):
                enc_name = str(enc)
            elif isinstance(enc, dict):
                be = pdf.resolve(enc.get("BaseEncoding"))
                if isinstance(be, str):
                    enc_name = str(be)
            self.byte_codec = {
                "WinAnsiEncoding": "cp1252",
                "MacRomanEncoding": "mac_roman",
            }.get(enc_name, "latin-1")
            if isinstance(enc, dict):
                diffs = pdf.resolve(enc.get("Differences")) or []
                code = 0
                for item in diffs:
                    item = pdf.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, Name):
                        nm = str(item)
                        ch = _GLYPH_NAMES.get(nm)
                        if ch is None and re.fullmatch(
                                r"uni[0-9A-Fa-f]{4}", nm):
                            ch = chr(int(nm[3:], 16))
                        if ch is not None:
                            self.diff_map[code] = ch
                        code += 1
        if isinstance(fd, dict):
            mw = pdf.resolve(fd.get("MissingWidth"))
            if isinstance(mw, (int, float)):
                self.missing_width = mw
            else:
                self.missing_width = 500
            dsc = pdf.resolve(fd.get("Descent"))
            if isinstance(dsc, (int, float)) and dsc != 0:
                self.descent = max(-1.0, min(0.0, dsc / 1000.0))
        else:
            self.missing_width = 500

    @staticmethod
    def _parse_w(w: list) -> Dict[int, float]:
        out: Dict[int, float] = {}
        i = 0
        while i < len(w):
            if i + 1 < len(w) and isinstance(w[i + 1], list):
                start = int(w[i])
                for j, width in enumerate(w[i + 1]):
                    out[start + j] = float(width)
                i += 2
            elif i + 2 < len(w):
                lo, hi, width = int(w[i]), int(w[i + 1]), float(w[i + 2])
                for c in range(lo, min(hi, lo + 65535) + 1):
                    out[c] = width
                i += 3
            else:
                break
        return out

    def decode(self, raw: bytes) -> List[Tuple[int, str, float]]:
        # memo per show-string: real pages repeat strings (captions,
        # digits, header years) across Tj calls; the caches die with
        # the Font (i.e. with the document) so memory stays bounded.
        # Below it, each code's glyph is computed once per font.
        cache = self._decode_cache
        hit = cache.get(raw)
        if hit is not None:
            return hit
        if self.composite:
            # 2-byte Identity codes (the overwhelming real-world case)
            codes = [(raw[k] << 8) | raw[k + 1]
                     for k in range(0, len(raw) - len(raw) % 2, 2)]
        else:
            codes = raw
        glyphs = self._glyphs
        out = cache[raw] = [glyphs.get(c) or glyphs.setdefault(
            c, self._glyph(c)) for c in codes]
        return out

    def _glyph(self, code: int) -> Tuple[int, str, float]:
        """(code, unicode, width / 1000) of one character code."""
        if self.composite:
            uni = self.tounicode.get(code)
            if uni is None:
                uni = f"(cid:{code})"
            return code, uni, self.widths.get(code,
                                              self.default_width) / 1000.0
        b = code
        uni = self.tounicode.get(b)
        if uni is None:
            uni = self.diff_map.get(b)
        if uni is None and self.builtin_map is not None:
            uni = self.builtin_map.get(b)
        if uni is None:
            try:
                uni = bytes([b]).decode(self.byte_codec)
            except UnicodeDecodeError:
                uni = bytes([b]).decode("latin-1", "replace")
        if self.std14 is not None:
            # AFM lookup is by decoded char (pdfminer keys its
            # generated metrics by unicode char); glyphs beyond the
            # ASCII table fall back to MissingWidth — a documented
            # divergence from pdfminer's full table
            sw = (self.std14.get(uni) if uni is not None
                  and len(uni) == 1 else None)
            if sw is None:
                sw = self.missing_width
        else:
            idx = b - self.first_char
            if 0 <= idx < len(self.simple_widths) \
                    and self.simple_widths[idx]:
                sw = self.simple_widths[idx]
            else:
                sw = self.missing_width
        if self.simple_scale is None:
            w = sw / 1000.0
        else:
            w = sw * self.simple_scale
        return b, uni, w


# ---------------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------------


def _mat_mul(a, b):
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (a0 * b0 + a1 * b2, a0 * b1 + a1 * b3,
            a2 * b0 + a3 * b2, a2 * b1 + a3 * b3,
            a4 * b0 + a5 * b2 + b4, a4 * b1 + a5 * b3 + b5)


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


class TextInterpreter:
    def __init__(self, pdf: MiniPdf, resources: dict):
        self.pdf = pdf
        self.fonts: Dict[str, Font] = {}
        res = pdf.resolve(resources) or {}
        fdict = pdf.resolve(res.get("Font")) or {}
        for name, fref in fdict.items():
            fo = pdf.resolve(fref)
            if isinstance(fo, dict):
                try:
                    self.fonts[name] = Font(pdf, fo)
                except Exception:
                    continue
        self.xobjects = pdf.resolve(res.get("XObject")) or {}
        self.chars: List[Char] = []

    def run(self, content: bytes, ctm=_ID, depth: int = 0):
        lex = Lexer(content, 0)
        stack: List[object] = []
        gs_stack: List[tuple] = []
        font: Optional[Font] = None
        fsize = 0.0
        tc = 0.0
        tw = 0.0
        th = 1.0
        tl = 0.0
        rise = 0.0
        tm = _ID
        tlm = _ID

        def show(raw: bytes):
            # pdfminer LTChar box: (0, descent) .. (adv_text, descent+1)
            # in text space scaled by fontsize, transformed by
            # m = S(fsize*th, fsize, rise) · tm · ctm. Within one show
            # the linear part of m is CONSTANT — each char only
            # pre-translates tm by (adv, 0), which moves the
            # translation of R = tm·ctm by adv·(R0, R1) — so the
            # per-char work is a handful of multiplies, not two 3x3
            # matrix products (hot path: ~3.7k chars/page).
            nonlocal tm
            if font is None or not isinstance(raw, (bytes, bytearray)):
                return
            t0_, t1_, t2_, t3_, t4_, t5_ = tm
            c0, c1, c2, c3, c4, c5 = ctm
            r0 = t0_ * c0 + t1_ * c2
            r1 = t0_ * c1 + t1_ * c3
            r2 = t2_ * c0 + t3_ * c2
            r3 = t2_ * c1 + t3_ * c3
            r4 = t4_ * c0 + t5_ * c2 + c4
            r5 = t4_ * c1 + t5_ * c3 + c5
            fs = fsize
            dsc = font.descent
            m2 = fs * r2
            m3 = fs * r3
            bx0 = m2 * dsc + rise * r2
            by0 = m3 * dsc + rise * r3
            bx1 = m2 * (dsc + 1.0) + rise * r2
            by1 = m3 * (dsc + 1.0) + rise * r3
            # rotated/skewed text: pdfminer 20221105 (the engine the
            # reference pins, layout.py LTChar) boxes a glyph by
            # min/max of the TWO transformed opposite corners only —
            # exact for axis-aligned rotations (0/90/180/270), a
            # deliberate under-bound for skew (e.g. 45 deg). We mirror
            # it for byte-identity (ADVICE r3: a 4-corner bound here
            # diverged from the reference on skewed Tm/cm).
            bold = font.bold
            # word spacing applies to the single-byte space only
            tws = 0.0 if font.composite else tw
            total = 0.0
            append = self.chars.append
            for code, uni, w0 in font.decode(bytes(raw)):
                adv = (w0 * fs + tc + (tws if code == 32 else 0.0)) * th
                x0 = bx0 + r4
                y0 = by0 + r5
                if fs:
                    x1 = r0 * adv + bx1 + r4
                    y1 = r1 * adv + by1 + r5
                else:
                    x1 = bx1 + r4
                    y1 = by1 + r5
                if not x0 <= x1:  # NaN swaps too
                    x0, x1 = x1, x0
                if not y0 <= y1:
                    y0, y1 = y1, y0
                if uni and uni != "\x00":
                    # raw floats: round(x, 3) was 5 calls/char and ~7%
                    # of the whole path (profiled); both the kernel and
                    # the reference shim consume these same Char
                    # values, so identity is unaffected and the goldens
                    # re-derive
                    append(Char(x0, x1, y0, y1, y1 - y0, bold, uni[0]))
                r4 += adv * r0
                r5 += adv * r1
                total += adv
            tm = (t0_, t1_, t2_, t3_,
                  total * t0_ + t4_, total * t1_ + t5_)

        data = content
        scan = _TOKEN.match
        pos = 0
        while True:
            # the Lexer's dispatch inlined (its hot path in parsing)
            m = scan(data, pos)
            g = m.lastindex
            if g is None:
                break
            pos = m.end()
            word = m.group(g)
            if g == _INT:
                stack.append(int(word))
                continue
            if g == _DEC:
                stack.append(float(word))
                continue
            if g == _NUM:
                stack.append(_number(word))
                continue
            if g == _NAME:
                stack.append(_name(word))
                continue
            if g == _STRING or g == _OPEN:
                # strings, hex strings, arrays and dicts keep the
                # Lexer's exact handling
                lex.pos = m.start(g)
                if g == _OPEN:
                    stack.append(lex.parse_object())
                elif word == b"(":
                    stack.append(lex._string_literal())
                else:
                    stack.append(lex._hex_string())
                pos = lex.pos
                continue
            if g == _WORD:
                if word in _KEYWORDS:
                    stack.append(_KEYWORDS[word][0])
                    continue
            elif word in _CLOSERS:
                continue  # closers outside an object: ignored
            op = word.decode("latin-1")
            try:
                # the most frequent operators first
                if op == "Tj":
                    if stack:
                        show(stack[-1])
                elif op == "Tm":
                    if len(stack) >= 6:
                        tlm = tuple(map(float, stack[-6:]))
                        tm = tlm
                elif op == "BT":
                    tm = tlm = _ID
                elif op == "ET":
                    pass
                elif op == "Tf" and len(stack) >= 2:
                    fsize = float(stack[-1])
                    fname = stack[-2]
                    font = self.fonts.get(str(fname))
                elif op == "Td" and len(stack) >= 2:
                    tlm = _mat_mul(
                        (1, 0, 0, 1, float(stack[-2]), float(stack[-1])),
                        tlm)
                    tm = tlm
                elif op == "TD" and len(stack) >= 2:
                    tl = -float(stack[-1])
                    tlm = _mat_mul(
                        (1, 0, 0, 1, float(stack[-2]), float(stack[-1])),
                        tlm)
                    tm = tlm
                elif op == "T*":
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                elif op == "TL" and stack:
                    tl = float(stack[-1])
                elif op == "Tc" and stack:
                    tc = float(stack[-1])
                elif op == "Tw" and stack:
                    tw = float(stack[-1])
                elif op == "Tz" and stack:
                    th = float(stack[-1]) / 100.0
                elif op == "Ts" and stack:
                    rise = float(stack[-1])
                elif op == "'" and stack:
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == '"' and len(stack) >= 3:
                    tw = float(stack[-3])
                    tc = float(stack[-2])
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == "TJ" and stack and isinstance(stack[-1], list):
                    for item in stack[-1]:
                        if isinstance(item, (bytes, bytearray)):
                            show(item)
                        elif isinstance(item, (int, float)):
                            tm = _mat_mul(
                                (1, 0, 0, 1,
                                 -item / 1000.0 * fsize * th, 0.0), tm)
                elif op == "cm" and len(stack) >= 6:
                    ctm = _mat_mul(
                        tuple(map(float, stack[-6:])), ctm)
                elif op == "q":
                    gs_stack.append((ctm,))
                elif op == "Q":
                    if gs_stack:
                        (ctm,) = gs_stack.pop()
                elif op == "BI":
                    # inline image: raw binary follows the ID operator
                    # up to a whitespace-delimited EI — it would
                    # otherwise be tokenized as garbage (an unbalanced
                    # '(' swallows the rest of the stream). Skip it.
                    at = data.find(b"ID", pos)
                    at = pos if at < 0 else at + 3
                    while True:
                        e = data.find(b"EI", at)
                        if e < 0:
                            pos = len(data)
                            break
                        before_ws = e == 0 or data[e - 1] in _WS
                        after = data[e + 2:e + 3]
                        if before_ws and (after == b"" or after in
                                          (b" ", b"\n", b"\r", b"\t",
                                           b"\x00", b"\x0c", b"/",
                                           b"[", b"<", b"(")):
                            pos = e + 2
                            break
                        at = e + 2
                elif op == "Do" and stack and depth < 8:
                    xo = self.pdf.resolve(
                        (self.pdf.resolve(self.xobjects) or {})
                        .get(str(stack[-1])))
                    if isinstance(xo, Stream) and \
                            xo.dict.get("Subtype") == "Form":
                        inner_ctm = ctm
                        mtx = self.pdf.resolve(xo.dict.get("Matrix"))
                        if isinstance(mtx, list) and len(mtx) == 6:
                            inner_ctm = _mat_mul(
                                tuple(float(self.pdf.resolve(v))
                                      for v in mtx), ctm)
                        sub = TextInterpreter(
                            self.pdf,
                            xo.dict.get("Resources") or {})
                        sub.fonts = {**self.fonts, **sub.fonts}
                        sub.chars = self.chars
                        sub.run(self.pdf.stream_data(xo), inner_ctm,
                                depth + 1)
            except Exception:
                pass
            stack.clear()


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def parse_pdf_mini(pdf_bytes: bytes, group: bool = True) -> List[Page]:
    """PDF bytes -> kernel pages.

    ``group=True`` (default): chars are analyzed into LTTextBox-shaped
    KIND_TEXTBOX boxes via the pdfminer-equivalent LAParams pass
    (``layout_group.analyze_chars``) so real PDFs exercise the
    reference's PRIMARY tokenizer path (pdf_page.py:123-207) — the same
    path the reference takes with real pdfminer (converter.py:77
    ``LAParams()``).

    ``group=False``: one raw KIND_CHARS box per page in content-stream
    order — the reference's OCR-stream path (pdf_page.py:209-273);
    kept for A/B tests of the two paths.

    Natural text is None (as in the reference's OCR branch,
    converter.py:222)."""
    from parsee_pdf_reader_spark.sources.layout_group import analyze_chars

    doc = MiniPdf(pdf_bytes)
    pages_out: List[Page] = []
    for pg in doc.pages():
        mb = doc.resolve(pg.get("MediaBox")) or [0, 0, 612, 792]
        mb = [float(doc.resolve(v)) for v in mb]
        x0, y0, x1, y1 = mb
        rotate = doc.resolve(pg.get("Rotate")) or 0
        try:
            rotate = int(rotate) % 360
        except (TypeError, ValueError):
            rotate = 0
        # pdfminer's initial page CTM (PDFPageInterpreter.process_page):
        # /Rotate turns the page into device space and the mediabox
        # origin translates to (0, 0); 90/270 swap the output box.
        if rotate == 90:
            ctm = (0.0, -1.0, 1.0, 0.0, -y0, x1)
            out_mb = (0.0, 0.0, y1 - y0, x1 - x0)
        elif rotate == 180:
            ctm = (-1.0, 0.0, 0.0, -1.0, x1, y1)
            out_mb = (0.0, 0.0, x1 - x0, y1 - y0)
        elif rotate == 270:
            ctm = (0.0, 1.0, -1.0, 0.0, y1, -x0)
            out_mb = (0.0, 0.0, y1 - y0, x1 - x0)
        else:
            ctm = (1.0, 0.0, 0.0, 1.0, -x0, -y0)
            out_mb = (0.0, 0.0, x1 - x0, y1 - y0)
        interp = TextInterpreter(doc, pg.get("Resources") or {})
        try:
            interp.run(doc.page_content(pg), ctm=ctm)
        except Exception:
            pass
        chars = [c for c in interp.chars if c.text and c.text != "\x00"]
        if group:
            boxes = analyze_chars(chars, out_mb)
        else:
            boxes = [Box(KIND_CHARS, lines=[chars])] if chars else []
        pages_out.append(Page(out_mb, None, boxes))
    return pages_out
