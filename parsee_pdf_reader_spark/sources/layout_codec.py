"""PLD1 — deterministic binary codec for char-level page layouts.

The engine's primary input is an Iceberg/parquet table of
Common-Crawl-style pages ``(url, warc_ts, html: binary, text, lang)``
(BASELINE.json ``input_hint``). In production the ``html`` column holds
raw PDF bytes parsed by pdfminer inside the kernel; in this sandbox the
native PDF libraries are unavailable, so documents are carried in PLD1:
a compact binary serialization of exactly the intermediate the PDF
parser would emit — pages of text boxes of lines of positioned chars
(mirroring pdfminer's LTTextBox/LTTextLine/LTChar tree, which is what
the reference consumes at ``pdf_reader/converter.py:117-132``).

The format is self-contained per document (page natural-text sidecars
included, standing in for pypdf's per-page ``extract_text``,
``converter.py:85-90``). Both the Spark kernel and the test-time
reference oracle decode the same bytes, so byte-identity of extraction
is checked on identical inputs.

Layout (little-endian):
    b"PLD1" | u16 n_pages
    per page:
        f64 x0, y0, x1, y1              (mediabox, pdfminer order)
        u32 len | utf8                  (natural text; 0xFFFFFFFF = None)
        u16 n_boxes
        per box:
            u8 kind (0 = textbox, 1 = loose chars, 2 = non-text rect)
            kind 2: f32 x0, x1, y0, y1
            else:   u16 n_lines (kind 1: always 1)
                per line: u16 n_chars
                    per char: f32 x0, x1, y0, y1, size
                              u8 flags (bit0 = bold)
                              u8 len | utf8
"""

from __future__ import annotations

import struct
from typing import List, Optional

MAGIC = b"PLD1"
_NONE_TEXT = 0xFFFFFFFF

KIND_TEXTBOX = 0
KIND_CHARS = 1
KIND_NONTEXT = 2


class Char:
    __slots__ = ("x0", "x1", "y0", "y1", "size", "bold", "text")

    def __init__(self, x0, x1, y0, y1, size, bold, text):
        # callers pass numeric values already (struct unpack / generator)
        self.x0 = x0
        self.x1 = x1
        self.y0 = y0
        self.y1 = y1
        self.size = size
        self.bold = bold
        self.text = text


class Box:
    """kind 0: lines = List[List[Char]]; kind 1: lines = [List[Char]];
    kind 2: rect only."""

    __slots__ = ("kind", "lines", "rect")

    def __init__(self, kind, lines=None, rect=None):
        self.kind = kind
        self.lines = lines or []
        self.rect = rect


class Page:
    __slots__ = ("mediabox", "natural_text", "boxes")

    def __init__(self, mediabox, natural_text, boxes):
        self.mediabox = tuple(mediabox)
        self.natural_text = natural_text
        self.boxes = boxes


class Planes:
    """Text cells of a page or a whole document as planar columns.

    ``x0 x1 y0 y1 size`` are the rows of the (5, N) float64 ``xy``
    (f32 sources widen exactly, so every value is the same double a
    per-char decode gives), ``bold`` a bool ndarray, ``blob`` every
    cell text concatenated, ``lens`` each cell's text length in
    characters, and ``line_starts`` the first cell of each line plus a
    final ``N`` (lines are consecutive and cover all cells).
    :meth:`cell_texts` cuts per-cell strings out of the blob. ``g1`` is
    the tokenizer's cache of per-line results (see ``kernel.engine``)."""

    __slots__ = ("xy", "x0", "x1", "y0", "y1", "size", "bold", "blob",
                 "lens", "line_starts", "_texts", "g1")

    def __init__(self, xy, bold, blob, lens, line_starts, texts=None):
        self.xy = xy
        self.x0, self.x1, self.y0, self.y1, self.size = xy
        self.bold = bold
        self.blob = blob
        self.lens = lens
        self.line_starts = line_starts
        self._texts = texts
        self.g1 = None

    def cell_texts(self, c0: int, c1: int) -> List[str]:
        """The texts of cells ``c0 .. c1``."""
        if self._texts is not None:
            return self._texts[c0:c1]
        ends = self.lens[:c1].cumsum().tolist()
        blob = self.blob
        return [blob[a:b] for a, b in zip(([0] + ends)[c0:c1], ends[c0:])]

    @classmethod
    def from_lines(cls, lines) -> "Planes":
        """Planes over lists of ``Char`` (one list per line)."""
        import numpy as np

        chars = [c for ln in lines for c in ln]
        texts = [c.text for c in chars]
        xy = np.array([[c.x0 for c in chars], [c.x1 for c in chars],
                       [c.y0 for c in chars], [c.y1 for c in chars],
                       [c.size for c in chars]],
                      dtype=np.float64).reshape(5, len(chars))
        starts = np.zeros(len(lines) + 1, dtype=np.int64)
        np.cumsum([len(ln) for ln in lines], out=starts[1:])
        return cls(xy, np.array([c.bold for c in chars], dtype=bool),
                   "".join(texts),
                   np.array([len(t) for t in texts], dtype=np.int64),
                   starts, texts)


class ColumnarBox(Box):
    """A text box whose chars are lines ``l0 .. l1`` of a shared
    :class:`Planes`. The kernel's tokenizer reads the planes directly;
    ``.lines`` materializes ``Char`` objects with Python floats on
    first use for the consumers that need them (raw-char path, OCR,
    the reference shim, re-encoding), or returns the ``Char`` lists the
    box was built from."""

    __slots__ = ("planes", "l0", "l1", "_lines")

    def __init__(self, kind, planes, l0, l1, lines=None):
        self.kind = kind
        self.rect = None
        self.planes = planes
        self.l0 = l0
        self.l1 = l1
        self._lines = lines

    @classmethod
    def from_lines(cls, kind, lines) -> "ColumnarBox":
        lines = [list(ln) for ln in lines]
        return cls(kind, Planes.from_lines(lines), 0, len(lines), lines)

    @property
    def lines(self):  # shadows the parent slot descriptor
        if self._lines is None:
            p = self.planes
            ls = p.line_starts[self.l0:self.l1 + 1].tolist()
            c0 = ls[0]
            c1 = ls[-1]
            cols = [a[c0:c1].tolist()
                    for a in (p.x0, p.x1, p.y0, p.y1, p.size, p.bold)]
            x0s, x1s, y0s, y1s, sizes, bolds = cols
            texts = p.cell_texts(c0, c1)
            self._lines = [
                [Char(x0s[i], x1s[i], y0s[i], y1s[i], sizes[i],
                      bolds[i], texts[i]) for i in range(s, e)]
                for s, e in zip([x - c0 for x in ls[:-1]],
                                [x - c0 for x in ls[1:]])
            ]
        return self._lines


class CharRun:
    """A columnar run of single-char cells sharing (y0, y1, size) with
    contiguous x boundaries on the cent grid: char i spans
    ``cents[i]/100 .. cents[i+1]/100``. The corpus generator's unit of
    text — kept columnar end to end so neither generation nor encoding
    pays a per-char object (guide §1.2 per-task work; encode consumes
    the cents array directly)."""

    __slots__ = ("text", "cents", "y0", "y1", "size", "bold")

    def __init__(self, text, cents, y0, y1, size, bold):
        self.text = text
        self.cents = cents  # len(text) + 1 boundaries, int cents
        self.y0 = y0
        self.y1 = y1
        self.size = size
        self.bold = bold

    def __len__(self):
        return len(self.text)

    def chars(self):
        c = self.cents
        return [Char(c[i] / 100.0, c[i + 1] / 100.0, self.y0, self.y1,
                     self.size, self.bold and ch != " ", ch)
                for i, ch in enumerate(self.text)]


class RunSeq:
    """An ordered sequence of CharRuns standing in for a list of Chars
    (one encoded line). Supports exactly the operations the generator
    performs on line char-lists: truthiness/len, ``+`` concatenation,
    :meth:`end_x1`, and iteration (which materializes Chars — only the
    stress duplicate-tokens variant iterates)."""

    __slots__ = ("runs",)

    def __init__(self, runs):
        self.runs = runs

    def __len__(self):
        return sum(len(r.text) for r in self.runs)

    def __add__(self, other):
        if isinstance(other, RunSeq):
            return RunSeq(self.runs + other.runs)
        return self.chars() + list(other)

    def __radd__(self, other):  # list[Char] + RunSeq (quirk fallback)
        return list(other) + self.chars()

    def end_x1(self) -> float:
        """x1 of the last char (the same double ``chars()[-1].x1``
        holds)."""
        return self.runs[-1].cents[-1] / 100.0

    def __iter__(self):
        return iter(self.chars())

    def chars(self) -> List[Char]:
        out: List[Char] = []
        for r in self.runs:
            out.extend(r.chars())
        return out



def encode_document(pages: List[Page]) -> bytes:
    out = [MAGIC, struct.pack("<H", len(pages))]
    for p in pages:
        out.append(struct.pack("<4d", *p.mediabox))
        if p.natural_text is None:
            out.append(struct.pack("<I", _NONE_TEXT))
        else:
            b = p.natural_text.encode("utf-8")
            out.append(struct.pack("<I", len(b)))
            out.append(b)
        out.append(struct.pack("<H", len(p.boxes)))
        for box in p.boxes:
            out.append(struct.pack("<B", box.kind))
            if box.kind == KIND_NONTEXT:
                out.append(struct.pack("<4f", *box.rect))
                continue
            out.append(struct.pack("<H", len(box.lines)))
            for line in box.lines:
                out.append(struct.pack("<H", len(line)))
                for c in line:
                    tb = c.text.encode("utf-8")
                    out.append(
                        struct.pack(
                            "<5fBB", c.x0, c.x1, c.y0, c.y1, c.size,
                            1 if c.bold else 0, len(tb),
                        )
                    )
                    out.append(tb)
    return b"".join(out)


_U16 = struct.Struct("<H")
_U32 = struct.Struct("<I")
_MB = struct.Struct("<4d")
_RECT = struct.Struct("<4f")
_CHAR = struct.Struct("<5fBB")

# ---------------------------------------------------------------------------
# PLD2 — columnar variant of the same page model.
#
# PLD1 costs one struct.unpack per char (~19% of kernel wall time at
# bench scale). PLD2 stores each page's chars as PLANAR blocks (all
# x0s, then all x1s, ...) so decode is a few np.frombuffer views + one
# utf-8 blob decode per page. The pages' planes are joined into one
# document-level ``Planes`` and widened from f32 to float64 with one
# ``astype``: the same doubles a PLD1 decode of the same pages yields,
# so the kernel sees BIT-IDENTICAL numbers (byte-identity of
# extraction is codec-independent; asserted in tests/test_codec_v2.py).
#
# Layout (little-endian), after b"PLD2" | u16 n_pages, per page:
#   f64 x0,y0,x1,y1 mediabox
#   u32 nat_len | utf8 (0xFFFFFFFF = None)
#   u16 n_boxes | u8 kinds[n_boxes]
#   f32 rects[4 * n_nontext]          (kind-2 boxes, in box order)
#   u16 n_lines[n_textish]            (kind-0/1 boxes, in box order)
#   u32 total_lines | u16 n_chars[total_lines]
#   u32 n_chars_total
#   f32 x0s[n] x1s[n] y0s[n] y1s[n] sizes[n]   (planar)
#   u8 flags[n]
#   u16 text_lens[n]                  (in CHARACTERS, not bytes)
#   u32 blob_len | utf8 blob          (all char texts concatenated)
# ---------------------------------------------------------------------------

MAGIC2 = b"PLD2"


def encode_document_v2(pages: List[Page]) -> bytes:
    import numpy as np

    out = [MAGIC2, _U16.pack(len(pages))]
    for p in pages:
        out.append(_MB.pack(*p.mediabox))
        if p.natural_text is None:
            out.append(_U32.pack(_NONE_TEXT))
        else:
            b = p.natural_text.encode("utf-8")
            out.append(_U32.pack(len(b)))
            out.append(b)
        kinds = bytes(box.kind for box in p.boxes)
        out.append(_U16.pack(len(p.boxes)))
        out.append(kinds)
        rects: List[float] = []
        n_lines: List[int] = []
        line_counts: List[int] = []
        #: ordered page segments, each a CharRun (columnar fast path —
        #: the generator's native output) or a list[Char] (legacy)
        segs: List = []
        for box in p.boxes:
            if box.kind == KIND_NONTEXT:
                rects.extend(box.rect)
                continue
            n_lines.append(len(box.lines))
            for line in box.lines:
                line_counts.append(len(line))
                if isinstance(line, RunSeq):
                    segs.extend(line.runs)
                else:
                    segs.append(list(line))
        out.append(np.asarray(rects, dtype="<f4").tobytes())
        out.append(np.asarray(n_lines, dtype="<u2").tobytes())
        out.append(_U32.pack(len(line_counts)))
        out.append(np.asarray(line_counts, dtype="<u2").tobytes())
        # Planar columns assembled from contiguous CharRun groups with
        # ONE numpy call per column per group (tiny per-segment arrays
        # dominated the first cut of this path): x boundaries travel as
        # integer cents until a single float64 division (cents/100 is
        # the same correctly-rounded double the per-char path produced,
        # then one f4 cast); per-segment constants (y0, y1, size)
        # expand via np.repeat of f4-cast scalars. Legacy Char lists
        # (chaos off-grid path, hand-built test pages) flush the group
        # and keep the per-object reads. Bit-identical either way
        # (tests/test_synth_fastpath + test_codec_v2).
        x0p, x1p, y0p, y1p, szp, flp, lnp = [], [], [], [], [], [], []
        text_parts: List[str] = []
        n = 0
        g_x0c: List[int] = []
        g_x1c: List[int] = []
        g_y0v: List[float] = []
        g_y1v: List[float] = []
        g_szv: List[float] = []
        g_cnt: List[int] = []
        g_bold: List[tuple] = []  # (offset within group, text)
        g_n = 0

        def flush_group():
            nonlocal g_x0c, g_x1c, g_y0v, g_y1v, g_szv, g_cnt, \
                g_bold, g_n
            if not g_n:
                return
            x0p.append((np.asarray(g_x0c, dtype=np.float64)
                        / 100.0).astype("<f4"))
            x1p.append((np.asarray(g_x1c, dtype=np.float64)
                        / 100.0).astype("<f4"))
            cnts = np.asarray(g_cnt)
            y0p.append(np.repeat(np.asarray(g_y0v, dtype="<f4"), cnts))
            y1p.append(np.repeat(np.asarray(g_y1v, dtype="<f4"), cnts))
            szp.append(np.repeat(np.asarray(g_szv, dtype="<f4"), cnts))
            flags = np.zeros(g_n, dtype="u1")
            for off, txt in g_bold:
                flags[off:off + len(txt)] = [0 if ch == " " else 1
                                             for ch in txt]
            flp.append(flags)
            lnp.append(np.ones(g_n, dtype="<u2"))
            g_x0c = []
            g_x1c = []
            g_y0v = []
            g_y1v = []
            g_szv = []
            g_cnt = []
            g_bold = []
            g_n = 0

        for seg in segs:
            if isinstance(seg, CharRun):
                m = len(seg.text)
                if m == 0:
                    continue
                n += m
                c = seg.cents
                g_x0c.extend(c[:-1])
                g_x1c.extend(c[1:])
                g_y0v.append(seg.y0)
                g_y1v.append(seg.y1)
                g_szv.append(seg.size)
                g_cnt.append(m)
                if seg.bold:
                    g_bold.append((g_n, seg.text))
                g_n += m
                text_parts.append(seg.text)
            else:
                m = len(seg)
                if m == 0:
                    continue
                flush_group()
                n += m
                x0p.append(np.asarray([c.x0 for c in seg], dtype="<f4"))
                x1p.append(np.asarray([c.x1 for c in seg], dtype="<f4"))
                y0p.append(np.asarray([c.y0 for c in seg], dtype="<f4"))
                y1p.append(np.asarray([c.y1 for c in seg], dtype="<f4"))
                szp.append(np.asarray([c.size for c in seg],
                                      dtype="<f4"))
                flp.append(np.asarray([1 if c.bold else 0 for c in seg],
                                      dtype="u1"))
                lnp.append(np.asarray([len(c.text) for c in seg],
                                      dtype="<u2"))
                text_parts.append("".join(c.text for c in seg))
        flush_group()
        out.append(_U32.pack(n))
        for parts in (x0p, x1p, y0p, y1p, szp):
            out.append(np.concatenate(parts).tobytes() if parts
                       else b"")
        out.append(np.concatenate(flp).tobytes() if flp else b"")
        out.append(np.concatenate(lnp).tobytes() if lnp else b"")
        blob = "".join(text_parts).encode("utf-8")
        out.append(_U32.pack(len(blob)))
        out.append(blob)
    return b"".join(out)


def _decode_document_v2(buf: bytes) -> List[Page]:
    import numpy as np

    pos = 4
    (n_pages,) = _U16.unpack_from(buf, pos)
    pos += 2
    # one Planes for the whole document: each page's planar block is
    # read as a (5, n) f4 view, and the pages are joined and widened
    # to float64 once
    xy_parts, flag_parts, len_parts, count_parts, blobs = [], [], [], [], []
    page_specs = []  # (mediabox, natural_text, [Box or (kind, l0, l1)])
    n_lines_seen = 0
    for _ in range(n_pages):
        mediabox = _MB.unpack_from(buf, pos)
        pos += 32
        (tlen,) = _U32.unpack_from(buf, pos)
        pos += 4
        if tlen == _NONE_TEXT:
            natural_text: Optional[str] = None
        else:
            natural_text = buf[pos:pos + tlen].decode("utf-8")
            pos += tlen
        (n_boxes,) = _U16.unpack_from(buf, pos)
        pos += 2
        kinds = buf[pos:pos + n_boxes]
        pos += n_boxes
        n_nontext = kinds.count(KIND_NONTEXT)
        rects = np.frombuffer(buf, "<f4", 4 * n_nontext, pos).tolist()
        pos += 16 * n_nontext
        n_textish = n_boxes - n_nontext
        n_lines = np.frombuffer(buf, "<u2", n_textish, pos).tolist()
        pos += 2 * n_textish
        (total_lines,) = _U32.unpack_from(buf, pos)
        pos += 4
        count_parts.append(np.frombuffer(buf, "<u2", total_lines, pos))
        pos += 2 * total_lines
        (n,) = _U32.unpack_from(buf, pos)
        pos += 4
        xy_parts.append(np.frombuffer(buf, "<f4", 5 * n, pos).reshape(5, n))
        pos += 20 * n
        flag_parts.append(np.frombuffer(buf, "u1", n, pos))
        pos += n
        len_parts.append(np.frombuffer(buf, "<u2", n, pos))
        pos += 2 * n
        (blen,) = _U32.unpack_from(buf, pos)
        pos += 4
        blobs.append(buf[pos:pos + blen].decode("utf-8"))
        pos += blen

        boxes: List = []
        ri = 0
        li = 0
        for kind in kinds:
            if kind == KIND_NONTEXT:
                boxes.append(Box(kind, rect=tuple(rects[ri:ri + 4])))
                ri += 4
                continue
            boxes.append((kind, n_lines_seen, n_lines_seen + n_lines[li]))
            n_lines_seen += n_lines[li]
            li += 1
        page_specs.append((mediabox, natural_text, boxes))

    if n_pages:
        one = n_pages == 1
        xy = (xy_parts[0] if one else np.concatenate(xy_parts, axis=1)
              ).astype(np.float64)
        flags = flag_parts[0] if one else np.concatenate(flag_parts)
        lens = (len_parts[0] if one else np.concatenate(len_parts)
                ).astype(np.int64)
        counts = count_parts[0] if one else np.concatenate(count_parts)
        starts = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=starts[1:])
        planes = Planes(xy, flags.astype(bool), "".join(blobs), lens,
                        starts)
    pages = []
    for mediabox, natural_text, boxes in page_specs:
        pages.append(Page(mediabox, natural_text, [
            b if isinstance(b, Box) else ColumnarBox(b[0], planes, b[1],
                                                     b[2])
            for b in boxes]))
    return pages


def decode_document(buf: bytes) -> List[Page]:
    if buf[:4] == MAGIC2:
        return _decode_document_v2(buf)
    if buf[:4] != MAGIC:
        raise ValueError("not a PLD1/PLD2 document")
    import numpy as np

    pos = 4
    (n_pages,) = _U16.unpack_from(buf, pos)
    pos += 2
    # text boxes of every page share one document-level Planes, built
    # from per-char column lists once all pages are read
    cols: List[list] = [[], [], [], [], [], [], []]
    x0s, x1s, y0s, y1s, sizes, bolds, texts = cols
    counts: List[int] = []
    page_specs = []
    unpack_char = _CHAR.unpack_from
    for _ in range(n_pages):
        mediabox = _MB.unpack_from(buf, pos)
        pos += 32
        (tlen,) = _U32.unpack_from(buf, pos)
        pos += 4
        if tlen == _NONE_TEXT:
            natural_text: Optional[str] = None
        else:
            natural_text = buf[pos:pos + tlen].decode("utf-8")
            pos += tlen
        (n_boxes,) = _U16.unpack_from(buf, pos)
        pos += 2
        boxes: List = []
        for _ in range(n_boxes):
            kind = buf[pos]
            pos += 1
            if kind == KIND_NONTEXT:
                rect = _RECT.unpack_from(buf, pos)
                pos += 16
                boxes.append(Box(kind, rect=rect))
                continue
            (n_lines,) = _U16.unpack_from(buf, pos)
            pos += 2
            l0 = len(counts)
            for _ in range(n_lines):
                (n_chars,) = _U16.unpack_from(buf, pos)
                pos += 2
                counts.append(n_chars)
                for _ in range(n_chars):
                    x0, x1, y0, y1, size, flags, ln = unpack_char(buf, pos)
                    pos += 22
                    x0s.append(x0)
                    x1s.append(x1)
                    y0s.append(y0)
                    y1s.append(y1)
                    sizes.append(size)
                    bolds.append(flags & 1)
                    texts.append(buf[pos:pos + ln].decode("utf-8"))
                    pos += ln
            boxes.append((kind, l0, len(counts)))
        page_specs.append((mediabox, natural_text, boxes))
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    planes = Planes(
        np.array([x0s, x1s, y0s, y1s, sizes],
                 dtype=np.float64).reshape(5, len(x0s)),
        np.array(bolds, dtype=bool), "".join(texts),
        np.array([len(t) for t in texts], dtype=np.int64), starts, texts)
    return [Page(mediabox, natural_text, [
        b if isinstance(b, Box) else ColumnarBox(b[0], planes, b[1], b[2])
        for b in boxes]) for mediabox, natural_text, boxes in page_specs]
