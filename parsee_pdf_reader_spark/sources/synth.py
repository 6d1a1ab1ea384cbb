"""Deterministic synthetic Common-Crawl-style page corpus.

Generates ``(url, warc_ts, html, text, lang)`` rows (BASELINE.json
``input_hint``) where ``html`` carries PLD1 layout bytes (see
:mod:`layout_codec`). Layouts are financial-report-flavoured to
exercise every reference code path: wrapped paragraphs, two-column
pages, right-aligned numeric tables with thousands separators and
parenthesized negatives, bold captions, landscape pages, size-drift
and ``)``-flush tokenization quirks (reference ``pdf_page.py:149-171``).

Everything is a pure function of (key, seed): generation runs inside
Arrow-batched kernels on executors, so corpus materialization scales
horizontally with no driver involvement.
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Tuple

import numpy as np

from parsee_pdf_reader_spark.sources.afm14 import (
    text_width as _afm_text_width,
)
from parsee_pdf_reader_spark.sources.layout_codec import (
    Box,
    Char,
    CharRun,
    KIND_CHARS,
    KIND_TEXTBOX,
    Page,
    RunSeq,
    # PLD2: columnar, numpy-decoded — the corpus format since round 2
    # (decode feeds the kernel tokenizer column slices with no per-char
    # objects; PLD1 inputs remain fully supported via magic dispatch)
    encode_document_v2 as encode_document,
)

_NARROW = set("iljtf.,:;!|()[]'`")
_WIDE = set("mwMW@%")

_LEXICON = (
    "total revenues net income operating expenses cash equivalents assets "
    "liabilities equity shares outstanding diluted earnings per share cost "
    "of goods sold gross profit margin interest expense tax provision "
    "deferred research development segment reporting fiscal year quarter "
    "ended december september consolidated statements balance sheet notes "
    "thereto accompanying unaudited amounts thousands millions currency "
    "translation adjustments comprehensive loss attributable shareholders "
    "board directors audit committee internal controls material weakness "
    "goodwill impairment amortization depreciation capital expenditures"
).split()


from functools import lru_cache


@lru_cache(maxsize=4096)
def char_width(ch: str, size: float) -> float:
    if ch == " ":
        return round(0.30 * size, 2)
    if ch in _NARROW:
        return round(0.30 * size, 2)
    if ch in _WIDE:
        return round(0.78 * size, 2)
    if ch.isupper() or ch.isdigit():
        return round(0.62 * size, 2)
    return round(0.52 * size, 2)


#: (size) -> {ch: width in integer CENTS} for the fast _line_chars path
_WCENTS_BY_SIZE: dict = {}


def _rng_for(key: str, seed: int) -> np.random.Generator:
    h = hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h, "little")))


def _line_chars_slow(text: str, x: float, baseline: float, size: float,
                     bold: bool = False, y_jitter: float = 0.0) -> List[Char]:
    chars = []
    cx = x
    for ch in text:
        w = char_width(ch, size)
        chars.append(
            Char(round(cx, 2), round(cx + w, 2), round(baseline + y_jitter, 2),
                 round(baseline + size + y_jitter, 2), size,
                 bold and ch != " ", ch)
        )
        cx += w
    return chars


def _line_chars(text: str, x: float, baseline: float, size: float,
                bold: bool = False, y_jitter: float = 0.0):
    """Value-identical fast path of :func:`_line_chars_slow`, returning
    a columnar :class:`RunSeq` instead of per-char objects.

    Every char width is an exact 2-decimal value (``char_width`` rounds
    to cents), so when the line's start ``x`` sits on the cent grid the
    rounded positions are EXACTLY ``(x_cents + cumsum(w_cents)) / 100``:
    the slow path's float accumulation deviates from the exact decimal
    sum by < 1e-10 per line (200 adds x 1 ulp at coord magnitude),
    eight orders below round-half boundaries, and IEEE division by 100
    is correctly rounded, so ``cents / 100.0`` equals
    ``round(cx, 2)`` bit-for-bit. Off-grid starts (|x*100 - round| >
    1e-6: the chaos generator's raw uniforms) keep the original loop —
    pinned by tests/test_synth_fastpath.py's A/B over every corpus
    flavour."""
    xc = x * 100.0
    x_cents = round(xc)
    if abs(xc - x_cents) > 1e-6:
        return _line_chars_slow(text, x, baseline, size, bold, y_jitter)
    y0 = round(baseline + y_jitter, 2)
    y1 = round(baseline + size + y_jitter, 2)
    wc = _WCENTS_BY_SIZE.get(size)
    if wc is None:
        wc = _WCENTS_BY_SIZE[size] = {}
    cents = [x_cents]
    append = cents.append
    pos = x_cents
    for ch in text:
        w = wc.get(ch)
        if w is None:
            w = wc[ch] = round(char_width(ch, size) * 100)
        pos += w
        append(pos)
    return RunSeq([CharRun(text, cents, y0, y1, size, bold)])


def _end_x1(chars) -> float:
    """x1 of a line's last char: a :class:`RunSeq` (the fast path) or
    a ``Char`` list (the off-grid path and mixed concatenations)."""
    return chars.end_x1() if isinstance(chars, RunSeq) else chars[-1].x1


@lru_cache(maxsize=65536)
def _text_width(text: str, size: float) -> float:
    return sum(char_width(ch, size) for ch in text)


def _wrap(words: List[str], width: float, size: float) -> List[str]:
    lines: List[str] = []
    cur: List[str] = []
    cur_w = 0.0
    for w in words:
        ww = _text_width(w, size)
        add = ww if not cur else ww + char_width(" ", size)
        if cur and cur_w + add > width:
            lines.append(" ".join(cur))
            cur = [w]
            cur_w = ww
        else:
            cur.append(w)
            cur_w += add
    if cur:
        lines.append(" ".join(cur))
    return lines


def _format_number(rng: np.random.Generator) -> str:
    mag = int(10 ** rng.uniform(0.5, 6.5))
    style = rng.integers(0, 10)
    neg = rng.random() < 0.25
    if style <= 4:  # comma thousands
        s = f"{mag:,}"
    elif style <= 6:  # dot thousands (EU)
        s = f"{mag:,}".replace(",", ".")
    elif style == 7:  # decimal
        s = f"{mag / 100:,.2f}"
    elif style == 8:  # decimal comma
        s = f"{mag / 10:.1f}".replace(".", ",")
    else:
        s = str(mag)
    if neg:
        s = f"({s})" if rng.random() < 0.6 else f"—{s}"
    if rng.random() < 0.08:
        s += "%"
    return s


class _PageBuilder:
    def __init__(self, width: float, height: float, top_margin: float = 40.0):
        self.width = width
        self.height = height
        self.boxes: List[Box] = []
        self.nat_lines: List[str] = []
        self.y = height - top_margin  # top of next line block

    def room(self, needed: float) -> bool:
        return self.y - needed >= 40.0

    def advance(self, dy: float):
        self.y -= dy

    def paragraph(self, words: List[str], x: float, col_width: float,
                  size: float = 10.0, leading: float = 14.0,
                  bold: bool = False, quirk: Optional[str] = None) -> bool:
        lines = _wrap(words, col_width, size)
        needed = len(lines) * leading
        if not self.room(needed):
            return False
        box_lines = []
        for i, ln in enumerate(lines):
            baseline = self.y - size - i * leading
            if quirk == "size_drift" and i == 0 and len(ln) > 12:
                # one oversized char mid-line: harsh-break tokenization path
                mid = len(ln) // 2
                chars = _line_chars(ln[:mid], x, baseline, size, bold)
                xc = _end_x1(chars) if chars else x
                big = _line_chars(ln[mid], xc, baseline, size + 4.0, bold)
                rest = _line_chars(ln[mid + 1:], _end_x1(big), baseline, size,
                                   bold)
                box_lines.append(chars + big + rest)
            elif quirk == "y_drift" and i == 0 and len(ln) > 12:
                mid = len(ln) // 2
                chars = _line_chars(ln[:mid], x, baseline, size, bold)
                xc = _end_x1(chars) if chars else x
                sup = _line_chars(ln[mid], xc, baseline, size, bold,
                                  y_jitter=3.0)
                rest = _line_chars(ln[mid + 1:], _end_x1(sup), baseline, size,
                                   bold)
                box_lines.append(chars + sup + rest)
            else:
                box_lines.append(_line_chars(ln, x, baseline, size, bold))
            self.nat_lines.append(ln)
        self.boxes.append(Box(KIND_TEXTBOX, lines=box_lines))
        self.advance(needed)
        return True

    def table(self, rng: np.random.Generator, x_caption: float,
              col_rights: List[float], n_rows: int, header: bool = True,
              size: float = 10.0, leading: float = 14.0) -> bool:
        needed = (n_rows + (1 if header else 0)) * leading
        if not self.room(needed):
            return False
        row_lines: List[List[Char]] = []
        if header:
            baseline = self.y - size
            chars = None
            parts = []
            year0 = int(rng.integers(2019, 2025))
            for k, cr in enumerate(col_rights):
                txt = str(year0 - k)
                w = _text_width(txt, size)
                seg = (_line_chars(txt, cr - w, baseline, size, True)
                       + _line_chars(" ", cr, baseline, size))
                chars = seg if chars is None else chars + seg
                parts.append(txt)
            row_lines.append(chars)
            self.nat_lines.append(" ".join(parts))
            self.advance(leading)
        for _ in range(n_rows):
            baseline = self.y - size
            n_words = int(rng.integers(1, 4))
            cap_words = [
                _LEXICON[int(rng.integers(0, len(_LEXICON)))]
                for _ in range(n_words)
            ]
            cap = " ".join(cap_words)
            if rng.random() < 0.3:
                cap = cap.capitalize()
            bold = rng.random() < 0.2
            chars = _line_chars(cap, x_caption, baseline, size, bold)
            chars += _line_chars(" ", _end_x1(chars), baseline, size)
            parts = [cap]
            for cr in col_rights:
                if rng.random() < 0.12:
                    continue  # empty cell
                val = _format_number(rng)
                w = _text_width(val, size)
                chars += _line_chars(val, cr - w, baseline, size)
                chars += _line_chars(" ", cr, baseline, size)
                parts.append(val)
            row_lines.append(chars)
            self.nat_lines.append(" ".join(parts))
            self.advance(leading)
        self.boxes.append(Box(KIND_TEXTBOX, lines=row_lines))
        return True

    def to_page(self) -> Page:
        return Page((0.0, 0.0, self.width, self.height),
                    "\n".join(self.nat_lines), self.boxes)


def _doc_words(rng: np.random.Generator, text: Optional[str]) -> List[str]:
    if text:
        words = [w for w in text.split() if w][:4000]
        if len(words) >= 30:
            return words
    n = int(rng.integers(120, 600))
    return [_LEXICON[int(rng.integers(0, len(_LEXICON)))] for _ in range(n)]


def build_document(key: str, seed: int = 42,
                   text: Optional[str] = None) -> Tuple[bytes, str]:
    """Build one deterministic document; returns (PLD1 bytes, doc text)."""
    rng = _rng_for(key, seed)
    words = _doc_words(rng, text)
    n_pages = int(rng.choice([1, 1, 1, 2, 2, 3]))
    pages: List[Page] = []
    wpos = 0

    def take(n: int) -> List[str]:
        nonlocal wpos
        out = [words[(wpos + i) % len(words)] for i in range(n)]
        wpos += n
        return out

    for _ in range(n_pages):
        landscape = rng.random() < 0.12
        width, height = (792.0, 612.0) if landscape else (612.0, 792.0)
        pb = _PageBuilder(width, height)
        layout = rng.choice(["plain", "plain", "table", "table", "mixed",
                             "twocol"])
        if layout == "twocol":
            col_w = (width - 120.0) / 2
            for x in (45.0, 45.0 + col_w + 30.0):
                pb.y = height - 40.0
                while pb.room(60.0) and rng.random() < 0.85:
                    quirk = None
                    if rng.random() < 0.1:
                        quirk = str(rng.choice(["size_drift", "y_drift"]))
                    pb.paragraph(take(int(rng.integers(20, 60))), x, col_w,
                                 quirk=quirk)
                    pb.advance(28.0)
        else:
            while pb.room(80.0):
                r = rng.random()
                want_table = (layout == "table" and r < 0.6) or (
                    layout == "mixed" and r < 0.35)
                if want_table:
                    n_cols = int(rng.integers(2, 6))
                    right0 = width * (0.52 + rng.random() * 0.08)
                    step = min(80.0, (width - 60.0 - right0) / max(n_cols - 1,
                                                                   1))
                    col_rights = [round(right0 + k * step, 1)
                                  for k in range(n_cols)]
                    pb.table(rng, 45.0, col_rights,
                             n_rows=int(rng.integers(4, 13)),
                             header=rng.random() < 0.8)
                else:
                    quirk = None
                    rq = rng.random()
                    if rq < 0.08:
                        quirk = "size_drift"
                    elif rq < 0.14:
                        quirk = "y_drift"
                    bold = rng.random() < 0.1
                    pb.paragraph(take(int(rng.integers(15, 80))), 45.0,
                                 width - 90.0, bold=bold, quirk=quirk)
                pb.advance(28.0)
                if rng.random() < 0.25:
                    break
        if rng.random() < 0.06:
            # loose char stream (the reference's raw-LTChar path,
            # pdf_page.py:209-273)
            line = " ".join(take(6))
            chars = _line_chars(line, 45.0, max(pb.y - 10.0, 41.0), 10.0)
            pb.boxes.append(Box(KIND_CHARS, lines=[chars]))
            pb.nat_lines.append(line)
        pages.append(pb.to_page())

    doc_text = "\n".join(p.natural_text or "" for p in pages)
    return encode_document(pages), doc_text


def build_stress_document(key: str, seed: int = 42) -> bytes:
    """Adversarial layouts: near-touching columns, interleaved text
    rows, stacked tables, tight leading (row-merge tolerance), numeric
    captions, duplicate tokens, paren-heavy text, single-token rows —
    the greedy-clustering edge paths of the reference."""
    rng = _rng_for("stress:" + key, seed)
    landscape = rng.random() < 0.3
    width, height = (792.0, 612.0) if landscape else (612.0, 792.0)
    pb = _PageBuilder(width, height)
    variant = int(rng.integers(0, 10))

    if variant == 0:  # near-touching numeric columns + text interleave
        col_rights = [300.0, 345.0, 392.0, 436.0]
        pb.table(rng, 40.0, col_rights, n_rows=int(rng.integers(5, 10)))
        pb.advance(14.0)
        pb.paragraph(["interleaved", "annotation", "line", "between",
                      "rows"], 40.0, 400.0)
        pb.advance(2.0)
        pb.table(rng, 40.0, col_rights, n_rows=4, header=False)
    elif variant == 1:  # stacked tables (stackable-combine path)
        rights = [360.0, 440.0]
        pb.table(rng, 45.0, rights, n_rows=4, header=False)
        pb.advance(16.0)
        pb.table(rng, 45.0, rights, n_rows=4, header=False)
        pb.advance(16.0)
        pb.table(rng, 45.0, [362.0, 441.0], n_rows=3, header=False)
    elif variant == 2:  # tight leading: rows within merge tolerance
        pb.paragraph(_LEXICON[:14], 45.0, 500.0, leading=11.5)
        pb.advance(24.0)
        pb.table(rng, 45.0, [350.0, 430.0, 510.0],
                 n_rows=6, leading=11.5)
    elif variant == 3:  # numeric captions + paren storms
        words = ["(12)", "3)", "((x))", "(loss)", "4,5(", ")", "(",
                 "1,2,3", "()", "12(a)", "(b)13"]
        for _ in range(3):
            pb.paragraph([words[int(rng.integers(0, len(words)))]
                          for _ in range(12)], 45.0, 480.0)
            pb.advance(26.0)
        pb.table(rng, 45.0, [380.0, 460.0], n_rows=5)
    elif variant == 4:  # duplicate tokens at identical coordinates
        line = "total total total revenue"
        chars = _line_chars(line, 45.0, height - 60.0, 10.0)
        dup = [Char(c.x0, c.x1, c.y0, c.y1, c.size, c.bold, c.text)
               for c in chars]
        pb.boxes.append(Box(KIND_TEXTBOX, lines=[chars]))
        pb.boxes.append(Box(KIND_TEXTBOX, lines=[dup]))
        pb.nat_lines.append(line)
        pb.nat_lines.append(line)
        pb.y = height - 90.0
        pb.table(rng, 45.0, [350.0, 430.0], n_rows=5)
    elif variant == 5:  # far-apart columns (group split path)
        sep = 420.0 if landscape else 330.0
        pb.table(rng, 40.0, [230.0, sep + 230.0], n_rows=6, header=False)
        pb.advance(30.0)
        pb.paragraph(_LEXICON[14:40], 40.0, width - 80.0)
    elif variant == 6:  # single-token rows + a one-line page section
        for k in range(6):
            pb.paragraph([_LEXICON[k]], 45.0 + 40 * k, 200.0)
            pb.advance(4.0)
        pb.advance(30.0)
        pb.table(rng, 45.0, [400.0, 480.0], n_rows=3)
    elif variant == 7:  # tables inside a two-column layout
        half = width / 2
        pb.table(rng, 40.0, [half - 120.0, half - 50.0],
                 n_rows=int(rng.integers(4, 8)))
        pb.y = height - 40.0
        pb.table(rng, half + 20.0, [width - 120.0, width - 50.0],
                 n_rows=int(rng.integers(4, 8)))
        pb.advance(30.0)
        pb.paragraph(_LEXICON[:20], half + 20.0, width / 2 - 70.0)
    elif variant == 8:  # table jammed against page edges (margins ~0)
        pb.y = height - 12.0
        pb.table(rng, 2.0, [width * 0.6, width * 0.75, width - 4.0],
                 n_rows=int(rng.integers(3, 7)))
        pb.y = 14.0 * 4
        pb.table(rng, 2.0, [width * 0.6, width - 4.0], n_rows=3,
                 header=False)
    else:  # T4 table split: a >200pt line-item gap INSIDE one group.
        # The numeric column keeps its run unbroken across the gap
        # because the middle rows are horizontally offset text (no
        # collision with the column, pdf_page.py:486-509), so the
        # blank-line breaker (G9) never fires — the split must come
        # from _split_table_if_needed (pdf_page.py:844-862).
        top = height - 52.0
        right = width - 112.0
        n_fill = int(rng.integers(15, 19))
        row = 0

        def _line(text, x, y):
            chars = _line_chars(text, x, y, 10.0)
            pb.boxes.append(Box(KIND_TEXTBOX, lines=[chars]))
            pb.nat_lines.append(text)

        for i in range(3):
            y = top - 14.0 * row
            _line(f"alpha item{i}", 45.0, y)
            num = _format_number(rng)
            _line(num, right - _text_width(num, 10.0), y)
            row += 1
        for _ in range(n_fill):
            _line("filler words here between sections", 45.0,
                  top - 14.0 * row)
            row += 1
        for i in range(3):
            y = top - 14.0 * row
            _line(f"omega item{i}", 45.0, y)
            num = _format_number(rng)
            _line(num, right - _text_width(num, 10.0), y)
            row += 1

    return encode_document([pb.to_page()])


def build_chaos_document(key: str, seed: int = 42) -> bytes:
    """Fully randomized token scatter — no layout structure at all.
    Exercises arbitrary interleavings of the clustering/grouping/raise
    paths; any (result OR exception) divergence from the reference is a
    kernel bug."""
    rng = _rng_for("chaos:" + key, seed)
    pb = _PageBuilder(612.0, 792.0)
    n = int(rng.integers(20, 90))
    for _ in range(n):
        x = float(rng.uniform(2, 560))
        y = float(rng.uniform(30, 760))
        if rng.random() < 0.55:
            t = _format_number(rng)
        else:
            t = str(rng.choice(_LEXICON))
        chars = _line_chars(t, x, y,
                            float(rng.choice([8.0, 10.0, 10.0, 12.0])))
        pb.boxes.append(Box(KIND_TEXTBOX, lines=[chars]))
        pb.nat_lines.append(t)
    return encode_document([pb.to_page()])


def build_html_document(key: str, seed: int = 42,
                        text: Optional[str] = None) -> Tuple[bytes, str]:
    """Deterministic boilerplate-wrapped web page; returns (html bytes,
    expected main text) — the golden for the HTML extractor."""
    rng = _rng_for("html:" + key, seed)
    words = _doc_words(rng, text)
    wpos = 0

    def take(n: int) -> List[str]:
        nonlocal wpos
        out = [words[(wpos + i) % len(words)] for i in range(n)]
        wpos += n
        return out

    title = " ".join(take(4)).title()
    nav_links = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in take(6))
    paras = []
    golden_blocks = []
    n_paras = int(rng.integers(3, 9))
    for _ in range(n_paras):
        p_words = take(int(rng.integers(12, 60)))
        ptext = " ".join(p_words)
        paras.append(f"<p>{ptext}</p>")
        golden_blocks.append(ptext)
        if rng.random() < 0.3:
            # a link-heavy related-articles block: must be dropped
            rel = "".join(f'<a href="#{w}">{w} {w}</a> ' for w in take(8))
            paras.append(f'<div class="related">{rel}</div>')
    heading = " ".join(take(3))
    golden_blocks.insert(0, heading)
    ad = ('<aside><div>Advertisement</div>'
          '<a href="/buy">buy now cheap deals</a></aside>')
    footer = ("<footer><a href='/tos'>terms</a>"
              "<a href='/privacy'>privacy</a> copyright 2025</footer>")
    html = (
        "<!DOCTYPE html><html><head><title>" + title + "</title>"
        "<style>p{margin:0}</style>"
        "<script>var x = '<p>not content</p>';</script></head><body>"
        "<header><h5>" + " ".join(take(2)) + "</h5></header>"
        "<nav><ul>" + nav_links + "</ul></nav>" + ad +
        "<article><h1>" + heading + "</h1>" + "".join(paras) +
        "</article>" + footer + "</body></html>"
    )
    return html.encode("utf-8"), "\n\n".join(golden_blocks)


def build_area_predictions(key: str, n_pages: int, seed: int = 42):
    """Deterministic fake layout-model predictions per page (the
    reference's optional ``detected_areas`` input, extract.py:75-85):
    relative boxes with class names and probabilities, some below the
    0.5 keep-threshold."""
    rng = _rng_for("areas:" + key, seed)
    out = {}
    for p in range(n_pages):
        if rng.random() < 0.4:
            continue
        areas = []
        for _ in range(int(rng.integers(1, 4))):
            cls = str(rng.choice(["figure", "text", "table", "title"]))
            x0 = float(rng.uniform(0.05, 0.6))
            y0 = float(rng.uniform(0.05, 0.6))
            areas.append((
                cls, round(x0, 3), round(x0 + float(rng.uniform(0.1, 0.35)),
                                         3),
                round(y0, 3), round(y0 + float(rng.uniform(0.05, 0.3)), 3),
                round(float(rng.uniform(0.2, 0.99)), 3),
            ))
        if areas:
            out[p] = areas
    return out


# ---------------------------------------------------------------------------
# Spark-side corpus materialization
# ---------------------------------------------------------------------------

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")


def synthesize_pages_df(spark, docs_df, seed: int = 42,
                        replicate: int = 1):
    """documents(doc_id, text, lang, ...) -> Common-Crawl-style pages table.

    Runs the generator inside ``mapInPandas`` so corpus bytes are
    produced on executors in parallel (no driver materialization, no
    shuffle — a pure map over the documents scan). ``replicate`` > 1
    emits that many distinct deterministic documents per source row
    (bench-scale corpora, FIXTURES.md §1)."""
    import pandas as pd

    def gen(batches):
        ts_base = pd.Timestamp("2025-06-01")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls, tss, blobs, texts, langs = [], [], [], [], []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"],
                                          pdf["lang"]):
                doc_id = int(doc_id)
                # warc_ts depends only on doc_id: one Timestamp per
                # source row, shared by all replicates
                ts = ts_base + pd.Timedelta(seconds=doc_id % 86400)
                lang_v = lang if lang is not None else "en"
                for j in range(replicate):
                    key = f"doc{doc_id}" if j == 0 else f"doc{doc_id}r{j}"
                    host = (doc_id * replicate + j) % 97  # Zipf-ish hosts
                    urls.append(f"https://host{host}.example/{key}.pdf")
                    blob, doc_text = build_document(key, seed, text)
                    blobs.append(blob)
                    texts.append(doc_text)
                    tss.append(ts)
                    langs.append(lang_v)
            yield pd.DataFrame(
                {"url": urls, "warc_ts": tss, "html": blobs,
                 "text": texts, "lang": langs})

    cols = docs_df.select("doc_id", "text", "lang")
    if replicate > 1:
        # spread generation before the fan-out so executors share it;
        # 256 hash slots (vs 64 before) cut the end-of-stage straggler
        # tail: a slot is ~0.6 s of generation, so the last wave wastes
        # at most that per core instead of ~2.5 s (guide §2.6)
        cols = cols.repartition(256, "doc_id")
    return cols.mapInPandas(gen, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic REAL-PDF corpus (raw %PDF bytes through sources/pdf_mini.py)
# ---------------------------------------------------------------------------



def _pdf_escape(s: str) -> str:
    # built-in-Helvetica strings are latin-1-encodable only; the
    # generator's em-dash negative marker maps to the ASCII hyphen
    # (is_negative treats both as negative, helper.py:139-146)
    s = s.replace("—", "-")
    s = s.encode("latin-1", "replace").decode("latin-1")
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _lzw_encode(data: bytes) -> bytes:
    """PDF LZWDecode writer (EarlyChange=1). The encoder's entry
    counter runs one ahead of a decoder's, so it widens codes at 512
    where decoders widen at 511. When the dictionary fills (next_code
    reaches 4096 — 12-bit code space exhausted), a CLEAR(256) is
    emitted at the current width and the table/width reset, mirroring
    the decoder's clear handling; without it, payloads past ~3.8 KB of
    fresh entries would pack 13-bit codes into 12-bit fields and
    corrupt the stream (ADVICE r3)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    bits = 9
    codes = [(256, 9)]
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], bits))
        table[wc] = next_code
        next_code += 1
        if next_code >= 4096:
            codes.append((256, 12))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            bits = 9
        elif next_code >= (1 << bits) and bits < 12:
            bits += 1
        w = bytes([ch])
    if w:
        codes.append((table[w], bits))
    codes.append((257, bits))
    buf = 0
    nbits = 0
    out = bytearray()
    for code, width in codes:
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rl_encode(data: bytes) -> bytes:
    """PDF RunLengthDecode writer."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and data[i + run] == data[i] \
                and run < 128:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while j < len(data) and (j - i) < 128 \
                    and (j + 1 >= len(data) or data[j] != data[j + 1]):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)
    return bytes(out)


#: content-stream encodings build_pdf_document can apply; each maps to
#: (filter name, encoder) — covers every non-image filter pdf_mini
#: decodes, so the identity fuzz exercises them all.
PDF_STREAM_FILTERS = {
    "flate": ("FlateDecode", None),  # zlib, applied inline below
    "lzw": ("LZWDecode", _lzw_encode),
    "rl": ("RunLengthDecode", _rl_encode),
    "ahx": ("ASCIIHexDecode", lambda d: d.hex().encode() + b">"),
    "a85": ("ASCII85Decode", None),  # base64, applied inline below
}


def build_pdf_document(key: str, seed: int = 42,
                       text: Optional[str] = None,
                       stream_filter: Optional[str] = None,
                       xref_kind: str = "classic") -> bytes:
    """A deterministic minimal REAL PDF (classic xref, uncompressed
    content streams, built-in Helvetica — public PDF 1.4 subset).
    Geometry mirrors the layout generator's financial-report flavour:
    wrapped paragraphs + right-aligned numeric tables, with all
    advances computed at the decoder's missing-width fallback so the
    synthesized positions are exactly what sources/pdf_mini.py
    reconstructs. Used to fuzz the real-PDF path beyond the two
    reference fixture files."""
    rng = _rng_for("pdf:" + key, seed)
    words = _doc_words(rng, text)
    wpos = 0

    def take(n: int) -> List[str]:
        nonlocal wpos
        out = [words[(wpos + i) % len(words)] for i in range(n)]
        wpos += n
        return out

    n_pages = int(rng.integers(1, 3))
    width, height = 612.0, 792.0
    size = 10.0

    page_ops: List[str] = []
    for _p in range(n_pages):
        ops = ["BT", f"/F1 {size:g} Tf"]
        y = height - 50.0
        while y > 60.0:
            if rng.random() < 0.45:  # table block
                n_rows = int(rng.integers(3, 8))
                n_cols = int(rng.integers(2, 4))
                rights = [360.0 + 80.0 * k for k in range(n_cols)]
                for _r in range(n_rows):
                    cap = " ".join(take(int(rng.integers(1, 3))))
                    ops.append(f"1 0 0 1 45 {y:g} Tm")
                    ops.append(f"({_pdf_escape(cap)}) Tj")
                    for right in rights:
                        num = _format_number(rng)
                        # right-align with the REAL Helvetica AFM
                        # advances (pdf_mini applies std-14 metrics
                        # since VERDICT r3 item 5): alignment computed
                        # with the old 0.5em flat width would drift by
                        # token length once extraction uses true x1s
                        x = right - _afm_text_width(
                            "Helvetica", num) * size / 1000.0
                        ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
                        ops.append(f"({_pdf_escape(num)}) Tj")
                    y -= 14.0
                    if y <= 60.0:
                        break
            else:  # paragraph block
                for line in _wrap(take(int(rng.integers(10, 40))),
                                  width - 90.0, size):
                    ops.append(f"1 0 0 1 45 {y:g} Tm")
                    ops.append(f"({_pdf_escape(line)}) Tj")
                    y -= 12.0
                    if y <= 60.0:
                        break
            y -= 16.0
            if rng.random() < 0.2:
                break
        ops.append("ET")
        page_ops.append("\n".join(ops))

    # object graph: 1 catalog, 2 pages-node, 3 font, then per page
    # (page obj, content obj)
    objs: List[bytes] = []
    kids = " ".join(f"{4 + 2 * p} 0 R" for p in range(n_pages))
    objs.append(b"<</Type/Catalog/Pages 2 0 R>>")
    objs.append((f"<</Type/Pages/Kids[{kids}]/Count {n_pages}>>"
                 ).encode())
    objs.append(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
    for p in range(n_pages):
        content_num = 5 + 2 * p
        objs.append((
            f"<</Type/Page/Parent 2 0 R/MediaBox[0 0 {width:g} "
            f"{height:g}]/Resources<</Font<</F1 3 0 R>>>>"
            f"/Contents {content_num} 0 R>>").encode())
        stream = page_ops[p].encode("latin-1")
        filt = stream_filter
        if filt is None and rng.random() < 0.5:
            filt = "flate"  # exercise the FlateDecode path too
        if filt is None:
            objs.append((f"<</Length {len(stream)}>>\nstream\n"
                         ).encode() + stream + b"\nendstream")
        else:
            fname, enc = PDF_STREAM_FILTERS[filt]
            if filt == "flate":
                import zlib

                stream = zlib.compress(stream)
            elif filt == "a85":
                import base64

                stream = base64.a85encode(stream) + b"~>"
            else:
                stream = enc(stream)
            objs.append((f"<</Length {len(stream)}"
                         f"/Filter/{fname}>>\nstream\n"
                         ).encode() + stream + b"\nendstream")

    if xref_kind == "stream":
        return _emit_pdf_xref_stream(objs)
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<</Size {len(objs) + 1}/Root 1 0 R>>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def _emit_pdf_xref_stream(objs: List[bytes]) -> bytes:
    """Modern PDF 1.5+ layout: non-stream objects (catalog, pages
    node, font, page dicts) packed into an /ObjStm; content streams
    direct; a compressed /XRef stream (W [1 3 1], type-2 entries for
    the ObjStm members) replaces the classic table+trailer. Exercises
    pdf_mini's xref-stream + ObjStm resolution inside the identity
    fuzz."""
    import zlib

    n = len(objs)
    objstm_num = n + 1
    xref_num = n + 2
    # non-stream objects (no 'stream' keyword) go into the ObjStm
    member_nums = [i + 1 for i, b in enumerate(objs)
                   if b"\nstream\n" not in b]
    direct_nums = [i + 1 for i, b in enumerate(objs)
                   if b"\nstream\n" in b]
    header_parts = []
    body = b""
    member_off = {}
    for num in member_nums:
        member_off[num] = len(body)
        body += objs[num - 1] + b" "
    header = (" ".join(f"{num} {member_off[num]}"
                       for num in member_nums) + " ").encode()
    payload = header + body
    zdata = zlib.compress(payload)
    _ = header_parts
    objstm = (f"<</Type/ObjStm/N {len(member_nums)}"
              f"/First {len(header)}/Filter/FlateDecode"
              f"/Length {len(zdata)}>>").encode() \
        + b"\nstream\n" + zdata + b"\nendstream"

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in direct_nums:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num - 1] + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += f"{objstm_num} 0 obj\n".encode() + objstm + b"\nendobj\n"
    xref_at = len(out)

    rows = b""
    size = xref_num + 1
    for num in range(1, size):
        if num in member_off:
            rows += bytes([2]) + objstm_num.to_bytes(3, "big") \
                + bytes([member_nums.index(num)])
        elif num in offsets:
            rows += bytes([1]) + offsets[num].to_bytes(3, "big") \
                + bytes([0])
        elif num == xref_num:
            rows += bytes([1]) + xref_at.to_bytes(3, "big") + bytes([0])
        else:
            rows += bytes([0]) + (0).to_bytes(3, "big") + bytes([255])
    zrows = zlib.compress(rows)
    out += (f"{xref_num} 0 obj\n<</Type/XRef/W[1 3 1]"
            f"/Index[1 {size - 1}]/Size {size}/Root 1 0 R"
            f"/Filter/FlateDecode/Length {len(zrows)}>>"
            ).encode() + b"\nstream\n" + zrows \
        + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)
