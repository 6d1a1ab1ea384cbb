"""Per-document layout-extraction pipeline (the Arrow-kernel body).

A from-scratch implementation of the reference's per-page dataflow
(parsee-pdf-reader, /root/reference) re-expressed over flat records:

    char stream -> word tokens (G1, pdf_page.py:107-288)
    -> row clustering (G2/G3, pdf_page.py:290-420)
    -> numeric column detection (G5, pdf_page.py:422-451)
    -> unbroken vertical runs (G7/G8/G9, pdf_page.py:453-610)
    -> table groups (G10, pdf_page.py:612-713)
    -> caption-column selection + line items (T1, pdf_page.py:741-842)
    -> value-grid pivot + densify + split + dedup (T2-T6,
       pdf_page.py:844-956, custom_dataclasses.py:876-1036)
    -> text/table reconciliation (T7, pdf_page.py:958-1022)
    -> paragraph assembly + text synthesis (G11/G12, extract.py:14-68,
       custom_dataclasses.py:852-860)

Byte-identity with the reference is part of the contract (BASELINE.json
``north_rule``); order-sensitive tie-breaks of the reference's greedy
clustering are therefore reproduced deliberately — each is cited at the
point it occurs. The code is freshly structured (flat Tok/Cell/Zone
records, explicit tolerance arguments, no object graph, no deepcopies
of whole pages) and is ~10x faster than the reference single-threaded.

Everything here is per-page pure computation on small collections
(10^2-10^3 tokens); document-level parallelism is supplied by Spark via
``mapInArrow`` (see pipeline.py) — this module has no Spark imports.
"""

from __future__ import annotations

import bisect
import math
from operator import attrgetter, ge, le, lt
from typing import Dict, List, Optional, Tuple

import numpy as np

from parsee_pdf_reader_spark.kernel.model import (
    Cell,
    Tok,
    Zone,
    box_collides,
    box_inside,
    h_inside,
    h_overlap,
    v_overlap,
    value_in,
    x_distance,
)
from parsee_pdf_reader_spark.kernel import scalars_py as sc
from parsee_pdf_reader_spark.sources import layout_codec as codec

# --- engine tolerances (reference custom_dataclasses.py:11-32) ---
SPACE_MAX_DISTANCE = 6
TOLERANCE_GEN = 10
PAGE_WIDTH_NORMAL = 594
PAGE_WIDTH_HORIZONTAL = 1200
CHAR_DIST_MAX = 1
LINE_BREAK_DISTANCE = 20
SEPARATE_COLUMNS_DISTANCE = 150
SEPARATE_COLUMNS_DISTANCE_WIDE = 250
SEPARATE_TABLE_DISTANCE = 200
TEXT_MAX_NUMBER_COL = 15
TOLERANCE_COLUMNS_LI = 20

# paragraph pass overrides (extract.py:85: PdfReaderConfig(20, 10, 6))
PARA_SPACE_MAX = 20
PARA_GROUP_TOLERANCE = 10  # hardcoded at extract.py:19
PARA_LINE_BREAK = 6


class KernelTableError(Exception):
    """Raised where the reference raises (ragged grids etc.,
    custom_dataclasses.py:909/924); surfaces as an error row."""


# ---------------------------------------------------------------------------
# G1 — tokenization (pdf_page.py:107-288)
# ---------------------------------------------------------------------------

_FLUSH_CHARS = (" ", "\t", ")")

#: code points ``str.strip()`` removes; all lie below U+3001, and the
#: last entry stands for every code point above (not whitespace)
_WS_TABLE = np.zeros(0x3002, dtype=bool)
_WS_TABLE[[c for c in range(0x3001) if chr(c).isspace()]] = True

#: line classes of the G1 pass: skipped, planar fast path, reference
#: per-line loop (y or size drift, or a cell that is not exactly one
#: char)
_BLANK, _FAST, _SLOW = 0, 1, 2
#: the largest y0, y1 and size spread of a drift-free line
_SPREAD_MAX = np.array([[1], [1], [3]])


class _G1:
    """G1 over one :class:`codec.Planes`: each line's class and every
    fast line's tokens, unscaled.

    ``tok_at[i]`` is the first token of line ``i`` (tokens are ordered
    by cell, so line ``i`` owns ``tok_at[i]:tok_at[i + 1]``);
    ``py_at`` counts the lines before ``i`` that need Python, so a box
    whose count does not move takes its tokens as one slice. ``xy`` is
    (4, K) float64: min x0, x1 (the ``)``-terminator's when one follows
    the run, else max x1), and the first char's y0 and y1."""

    __slots__ = ("cls", "tok_at", "py_at", "xy", "text_a", "text_b", "bold")


def _g1(p) -> _G1:
    """Classify every line of ``p`` and tokenize all fast lines in a
    fixed number of numpy passes (cached on the planes, so a document
    decoded into one Planes pays them once for all its pages).

    A line is blank when its joined text is empty under ``str.strip``.
    It is fast when its y0 and y1 spread <= 1 and its size spread <= 3
    (strictly tighter than the per-segment harsh-break test, so no
    break can fire) and every cell is exactly one char. Then token
    boundaries depend only on flush chars: a token is a maximal run of
    non-flush cells, its text the run plus a following ``)`` (whose x1
    then replaces the run's max, pdf_page.py:168-171), bold if any run
    cell is, and y from the run's first char."""
    g = p.g1
    if g is not None:
        return g
    g = p.g1 = _G1()
    ls = p.line_starts
    n = len(p.lens)
    nl = len(ls) - 1
    cls = np.zeros(nl, dtype=np.int8)
    g.xy = np.empty((4, 0))
    g.text_a = g.text_b = g.bold = []
    if n == 0:
        g.cls = cls.tolist()
        g.tok_at = g.py_at = [0] * (nl + 1)
        return g
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(p.lens, out=offs[1:])
    # one code point per blob char, plus a NUL so empty trailing cells
    # index inside the array
    cps = np.frombuffer((p.blob + "\0").encode("utf-32-le", "surrogatepass"),
                        dtype="<u4")
    nonws = np.zeros(len(cps) + 1, dtype=np.int64)
    np.cumsum(~_WS_TABLE[np.minimum(cps, 0x3001)], out=nonws[1:])
    co = offs[ls]
    nonblank = nonws[co[1:]] > nonws[co[:-1]]
    filled = ls[1:] > ls[:-1]
    st = ls[:-1][filled]

    yy = p.xy[2:]  # y0, y1, size
    spread = np.maximum.reduceat(yy, st, axis=1)
    spread -= np.minimum.reduceat(yy, st, axis=1)
    steady = np.zeros(nl, dtype=bool)
    steady[filled] = (spread <= _SPREAD_MAX).all(axis=0)
    multi = np.zeros(nl, dtype=bool)
    multi[filled] = np.maximum.reduceat(p.lens != 1, st)
    fast = nonblank & steady & ~multi
    cls[nonblank] = _SLOW
    cls[fast] = _FAST
    py_at = np.zeros(nl + 1, dtype=np.int64)
    np.cumsum(cls == _SLOW, out=py_at[1:])
    g.cls = cls.tolist()
    g.py_at = py_at.tolist()

    cp = cps[offs[:-1]]  # each cell's first char
    starts = np.zeros(n + 1, dtype=bool)
    starts[ls] = True
    run = np.repeat(fast, np.diff(ls))
    run &= (cp != 32) & (cp != 9) & (cp != 41)
    edge = np.zeros(n + 1, dtype=bool)
    edge[1:] = run
    s = np.flatnonzero(run & (starts[:-1] | ~edge[:-1]))
    edge[:-1] = run
    edge[-1] = False
    e = np.flatnonzero(run & (starts[1:] | ~edge[1:])) + 1
    g.tok_at = np.searchsorted(s, ls).tolist()
    if not len(s):
        return g
    idx = np.empty(2 * len(s), dtype=np.int64)
    idx[0::2] = s
    idx[1::2] = e
    if e[-1] == n:
        idx = idx[:-1]
    after = np.minimum(e, n - 1)
    paren = (e < n) & (cp[after] == 41) & ~starts[e]
    g.xy = np.stack((
        np.minimum.reduceat(p.x0, idx)[0::2],
        np.where(paren, p.x1[after], np.maximum.reduceat(p.x1, idx)[0::2]),
        p.y0[s], p.y1[s]))
    g.bold = np.maximum.reduceat(p.bold, idx)[0::2].tolist()
    g.text_a = offs[s].tolist()
    g.text_b = (offs[e] + paren).tolist()
    return g


def _fast_toks(g: _G1, lo: int, hi: int, mult: float,
               blob: str) -> Optional[List[Tok]]:
    """Tokens ``lo:hi`` of ``g`` scaled by ``mult``: ``astype(int64)``
    truncates the same doubles ``int(v * mult)`` does. None when a
    coordinate is not finite or too large for int64; the caller then
    runs those lines through the reference loop, which converts (or
    raises) exactly as the reference does."""
    if hi <= lo:
        return []
    f = g.xy[:, lo:hi] * mult
    if not np.abs(f).max() < 2.0 ** 62:
        return None
    x0, x1, y0, y1 = f.astype(np.int64).tolist()
    texts = [blob[a:b] for a, b in zip(g.text_a[lo:hi], g.text_b[lo:hi])]
    return list(map(Tok, x0, x1, y0, y1, texts, g.bold[lo:hi]))


def _item_end(item) -> tuple:
    """(x1, y1) of a stream item: the raw-char path's distance breaks
    compare against the preceding stream element (pdf_page.py:221-227)."""
    kind, obj = item
    if kind == "boxcols":
        p = obj.planes
        c0 = int(p.line_starts[obj.l0])
        c1 = int(p.line_starts[obj.l1])
        if c1 <= c0:
            return 0, 0
        return max(p.x1[c0:c1].tolist()), max(p.y1[c0:c1].tolist())
    if kind == "char":
        return obj.x1, obj.y1
    return obj[1], obj[3]


def tokenize(stream: List[tuple], mult: float) -> Tuple[List[Tok], List[Tok]]:
    """stream items: ('boxcols', ColumnarBox), ('char', Char),
    ('rect', (x0,x1,y0,y1)).

    Reproduces both reference tokenizer paths including the quirks:
    flush chars, the ``)``-append (pdf_page.py:168-171), harsh breaks on
    y/size drift, token y from its first char, raw-char-path distance
    breaks against the previous *stream element* (pdf_page.py:221-227).
    Text boxes go through :func:`_g1`; its fast tokens for the whole
    page are scaled in one pass and sliced per box or line, and every
    other line takes the reference loop ``slow_line``, in stream order.
    """
    toks: List[Tok] = []
    nontext: List[Tok] = []

    # stream-level accumulator (shared by the raw-char path)
    a_text = ""
    a_x0 = a_x1 = a_y0 = a_y1 = None
    a_bold = False
    ref_char = None
    last_char = None
    brk = False

    def emit():
        if a_text != "" and a_x0 is not None and a_x1 is not None:
            toks.append(
                Tok(int(a_x0 * mult), int(a_x1 * mult), int(a_y0 * mult),
                    int(a_y1 * mult), a_text, a_bold)
            )

    def slow_line(line):
        """The exact reference per-line loop (pdf_page.py:135-207):
        fresh accumulator per line, harsh breaks vs the first char of
        the current segment, ')'-append quirk."""
        s_text = ""
        s_x0 = s_x1 = s_y0 = s_y1 = None
        s_bold = False
        r_y0 = r_y1 = r_sz = None
        sbrk = False
        last_ci = len(line) - 1
        for ci, c in enumerate(line):
            t = c.text
            if t not in _FLUSH_CHARS:
                if r_y0 is None:
                    r_y0, r_y1, r_sz = c.y0, c.y1, c.size
                elif (abs(r_y0 - c.y0) > 1 or abs(r_y1 - c.y1) > 1
                      or abs(r_sz - c.size) > 3):
                    sbrk = True
                if not sbrk:
                    if s_x0 is None or s_x0 > c.x0:
                        s_x0 = c.x0
                    if s_x1 is None or s_x1 < c.x1:
                        s_x1 = c.x1
                    if s_y0 is None:
                        s_y0 = c.y0
                    if s_y1 is None:
                        s_y1 = c.y1
                    s_text += t
                    if c.bold:
                        s_bold = True
            if t in _FLUSH_CHARS or sbrk:
                if t == ")":
                    s_text += ")"
                    s_x1 = c.x1
                if s_text != "" and s_x0 is not None and s_x1 is not None:
                    toks.append(Tok(
                        int(s_x0 * mult), int(s_x1 * mult),
                        int(s_y0 * mult), int(s_y1 * mult),
                        s_text, s_bold))
                s_bold = False
                if not sbrk:
                    s_text = ""
                    s_x0 = s_x1 = s_y0 = s_y1 = None
                else:
                    s_text = t
                    s_x0, s_x1, s_y0, s_y1 = c.x0, c.x1, c.y0, c.y1
                    if c.bold:
                        s_bold = True
                r_y0 = r_y1 = r_sz = None
                sbrk = False
            if ci == last_ci and s_text != "" and s_x0 is not None \
                    and s_x1 is not None:
                toks.append(Tok(
                    int(s_x0 * mult), int(s_x1 * mult),
                    int(s_y0 * mult), int(s_y1 * mult),
                    s_text, s_bold))
                s_text = ""
                s_x0 = s_x1 = s_y0 = s_y1 = None

    # the token range the page's boxes span in each Planes, scaled once
    spans: Dict[int, list] = {}
    for kind, box in stream:
        if kind == "boxcols":
            g = _g1(box.planes)
            lo = g.tok_at[box.l0]
            hi = g.tok_at[box.l1]
            r = spans.setdefault(id(box.planes), [box.planes, g, lo, hi])
            r[2] = min(r[2], lo)
            r[3] = max(r[3], hi)
    fast = {key: (g, lo, _fast_toks(g, lo, hi, mult, p.blob))
            for key, (p, g, lo, hi) in spans.items()}

    n_items = len(stream)
    for idx, item in enumerate(stream):
        kind = item[0]
        if kind == "boxcols":
            box = item[1]
            p = box.planes
            g, base, ftoks = fast[id(p)]
            l0 = box.l0
            l1 = box.l1
            tok_at = g.tok_at
            if ftoks is not None and g.py_at[l0] == g.py_at[l1]:
                toks.extend(ftoks[tok_at[l0] - base:tok_at[l1] - base])
                continue
            cls = g.cls
            ls = p.line_starts
            for li in range(l0, l1):
                c = cls[li]
                if c == _BLANK:
                    continue
                if c == _FAST and ftoks is not None:
                    toks.extend(
                        ftoks[tok_at[li] - base:tok_at[li + 1] - base])
                    continue
                s = int(ls[li])
                e = int(ls[li + 1])
                cols = [a[s:e].tolist()
                        for a in (p.x0, p.x1, p.y0, p.y1, p.size, p.bold)]
                slow_line([codec.Char(*v)
                           for v in zip(*cols, p.cell_texts(s, e))])
            continue
        if kind == "char":
            c = item[1]
            t = c.text
            if t not in _FLUSH_CHARS:
                if ref_char is None:
                    ref_char = c
                elif (abs(ref_char.y0 - c.y0) > 1
                      or abs(ref_char.y1 - c.y1) > 1
                      or abs(ref_char.size - c.size) > 3):
                    brk = True
                if idx > 0:
                    px1, py1 = _item_end(stream[idx - 1])
                    if abs(c.y1 - py1) > 1:
                        brk = True
                    if (abs(c.x0 - px1) > CHAR_DIST_MAX
                            or (last_char is not None
                                and abs(c.x0 - last_char.x1)
                                > CHAR_DIST_MAX)):
                        brk = True
                if not brk:
                    if a_x0 is None or a_x0 > c.x0:
                        a_x0 = c.x0
                    if a_x1 is None or a_x1 < c.x1:
                        a_x1 = c.x1
                    if a_y0 is None:
                        a_y0 = c.y0
                    if a_y1 is None:
                        a_y1 = c.y1
                    a_text += t
                    if c.bold:
                        a_bold = True
                last_char = c
            if t in _FLUSH_CHARS or brk:
                if t == ")":
                    a_text += ")"
                    a_x1 = c.x1
                emit()
                a_bold = False
                if not brk:
                    a_text = ""
                    a_x0 = a_x1 = a_y0 = a_y1 = None
                else:
                    a_text = t
                    a_x0, a_x1, a_y0, a_y1 = c.x0, c.x1, c.y0, c.y1
                    a_bold = c.bold
                ref_char = None
                brk = False
            if idx == n_items - 1 and a_text != "" and a_x0 is not None \
                    and a_x1 is not None:
                emit()
        else:  # non-text rect: flush pending token, divert (pdf_page.py:274-288)
            if a_text != "" and a_x0 is not None and a_x1 is not None:
                emit()
                a_text = ""
                a_x0 = a_x1 = a_y0 = a_y1 = None
            r = item[1]
            nontext.append(
                Tok(int(r[0] * mult), int(r[1] * mult), int(r[2] * mult),
                    int(r[3] * mult), "", False)
            )
    return toks, nontext


# ---------------------------------------------------------------------------
# G2 — 1-D tolerance clustering (pdf_page.py:28-66, 290-354)
# ---------------------------------------------------------------------------

def _aligned_collision(list_a, list_b, new_pos, axis: str) -> bool:
    """Simulated-alignment collision veto (pdf_page.py:28-66): align the
    bucket-key coordinate of every member of both lists to ``new_pos``
    (shifting the opposite edge), then test all A x B pairs with
    BaseElement.collides_with's 1pt shrink on A
    (custom_dataclasses.py:326-341), skipping value-identical pairs."""

    def shifted(el):
        if axis == "y0":
            d = new_pos - el.y0
            return (el.x0, el.x1, new_pos, el.y1 + d)
        d = new_pos - el.x1
        return (el.x0 + d, new_pos, el.y0, el.y1)

    shifted_b = [(shifted(e), e.text) for e in list_b]
    for ea in list_a:
        ax0, ax1, ay0, ay1 = shifted(ea)
        ra = (round(ax0), round(ax1), round(ay0), round(ay1))
        for (bb, bt) in shifted_b:
            if ea.text == bt and ra == (round(bb[0]), round(bb[1]),
                                        round(bb[2]), round(bb[3])):
                continue
            if not (ax0 + 1 > bb[1] or ax1 - 1 < bb[0]) and not (
                    ay1 - 1 < bb[2] or ay0 + 1 > bb[3]):
                return True
    return False


def merge_aligned(buckets: Dict, tol: int, agg: str,
                  collision_axis: Optional[str]) -> Dict:
    """Nearest-distance-first agglomerative merge of 1-D buckets
    (pdf_page.py:290-354). ``buckets``: key -> {'c', 'agg', 'list'};
    larger-count bucket keeps its key (ties -> second key); the
    secondary statistic merges by min or max per ``agg``; optional
    collision veto leaves both buckets alive."""
    keys = list(buckets.keys())
    n = len(keys)
    if n <= 1:
        return buckets
    # the index pairs (a < b) within tol, found in key order and listed
    # in (a, b) order, as the all-pairs scan lists them
    order = sorted(range(n), key=keys.__getitem__)
    near = []
    for p, i in enumerate(order):
        ki = keys[i]
        for q in range(p + 1, n):
            j = order[q]
            if keys[j] - ki > tol:
                break
            near.append((i, j) if i < j else (j, i))
    near.sort()
    by_dist: Dict[int, List[Tuple]] = {}
    for a, b in near:
        by_dist.setdefault(abs(keys[a] - keys[b]), []).append(
            (keys[a], keys[b]))
    dead = set()
    for d in sorted(by_dist):
        for ka, kb in by_dist[d]:
            if ka in dead or kb in dead:
                continue
            taken = ka if buckets[ka]["c"] > buckets[kb]["c"] else kb
            rej = ka if taken == kb else kb
            if collision_axis is not None and _aligned_collision(
                    buckets[taken]["list"], buckets[rej]["list"], taken,
                    collision_axis):
                continue
            dead.add(rej)
            bt, br = buckets[taken], buckets[rej]
            bt["c"] += br["c"]
            if agg == "max":
                if br["agg"] > bt["agg"]:
                    bt["agg"] = br["agg"]
            else:
                if br["agg"] < bt["agg"]:
                    bt["agg"] = br["agg"]
            bt["list"] += br["list"]
    return {k: v for k, v in buckets.items() if k not in dead}


# ---------------------------------------------------------------------------
# G3/G4 — rows + cell fusion (pdf_page.py:356-420)
# ---------------------------------------------------------------------------

_X0 = attrgetter("x0")


def find_rows(toks: List[Tok]) -> List[Dict]:
    buckets: Dict[int, Dict] = {}
    floor = math.floor
    ceil = math.ceil
    for t in toks:
        k = floor(t.y0)
        y1c = ceil(t.y1)
        b = buckets.get(k)
        if b is None:
            buckets[k] = {"c": 1, "agg": y1c, "list": [t]}
        else:
            b["c"] += 1
            if b["agg"] < y1c:
                b["agg"] = y1c
            b["list"].append(t)
    merged = merge_aligned(buckets, TOLERANCE_GEN, "max", "y0")
    rows = []
    for k, b in merged.items():
        rows.append({"y0": k, "y1": b["agg"],
                     "toks": sorted(b["list"], key=_X0)})
    rows.sort(key=lambda r: -r["y0"])
    for i, r in enumerate(rows):
        for t in r["toks"]:
            t.row = i
    return rows


def _row_index(toks: List[Tok]) -> tuple:
    """(x0s, x1s, keys, links) of one row's tokens (find_rows sorts
    them by x0; coords are read-only until the run stage). ``keys`` is
    None on a clean row, which needs none.

    ``links[i]`` says tokens i and i+1 are within SPACE_MAX_DISTANCE,
    and is given only for a *clean* row: every token has x1 >= x0, ends
    before the next one starts, and ends more than SPACE_MAX_DISTANCE
    before the one after next starts. On a clean row the only tokens
    :func:`grow_cell` can add to a cell are its immediate neighbours
    (the first match of the full scan is the left neighbour, else the
    right one), so growth walks the links, and x0 order is strict, so
    keys are distinct. Otherwise ``links`` is None."""
    xs0 = [t.x0 for t in toks]
    xs1 = [t.x1 for t in toks]
    reach = [x + SPACE_MAX_DISTANCE for x in xs1]
    if all(map(le, xs0, xs1)) and all(map(lt, xs1, xs0[1:])) and \
            all(map(lt, reach, xs0[2:])):
        return xs0, xs1, None, list(map(ge, reach, xs0[1:]))
    return xs0, xs1, [t.key() for t in toks], None


def grow_cell(cell: Cell, row_toks: List[Tok], row: tuple, skip: set,
              exclude_keys: frozenset, space_max: int) -> List[Tok]:
    """Bidirectional x-gap fusion with restart-on-add
    (pdf_page.py:356-374); membership tests are value-identity (key
    sets, equivalent to the reference's in_list scans). ``row`` is the
    row's :func:`_row_index`; ``skip`` holds the keys of the cell's
    members and grows with each add. Returns the added tokens."""
    xs0, xs1, keys, _links = row
    cx0 = cell.x0
    cx1 = cell.x1
    n = len(row_toks)
    added: List[Tok] = []
    restart = True
    while restart:
        restart = False
        lo1 = cx1 - space_max
        hi1 = cx1 + space_max
        lo0 = cx0 - space_max
        hi0 = cx0 + space_max
        for i in range(n):
            # adjacency first (cheap, usually false), membership only
            # for adjacent candidates — pure predicates, so the
            # first-match order is unchanged
            x0 = xs0[i]
            x1 = xs1[i]
            if (lo1 <= x0 <= hi1 and x1 > cx1) or \
                    (lo0 <= x1 <= hi0 and x0 < cx0):
                k = keys[i]
                if k in skip or k in exclude_keys:
                    continue
                cand = row_toks[i]
                cell.add(cand)
                cx0 = cell.x0
                cx1 = cell.x1
                added.append(cand)
                skip.add(k)
                restart = True
                break
    return added


def build_cells(rows: List[Dict]):
    """Per-row base elements; the reference threads the *previous*
    group's handled list in as the exclusion set (pdf_page.py:411-420
    quirk) — reproduced. On a clean row (see :func:`_row_index`) each
    cell is one maximal linked run: it starts at the first token the
    previous cell did not take, takes no left neighbour (the link to
    it is broken) and walks right while linked."""
    for r in rows:
        toks = r["toks"]
        row = r["index"] = _row_index(toks)
        links = row[3]
        cells = []
        if links is not None:
            start = 0
            for i, linked in enumerate(links):
                if not linked:
                    cells.append(Cell.from_run(toks[start:i + 1]))
                    start = i + 1
            if toks:
                cells.append(Cell.from_run(toks[start:]))
            r["cells"] = cells
            continue
        handled_ids: set = set()
        exclude_keys: frozenset = frozenset()
        for t in toks:
            if id(t) in handled_ids:  # object identity, like `t is h`
                continue
            cell = Cell([t])
            skip = {t.key()}
            added = grow_cell(cell, toks, row, skip, exclude_keys,
                              SPACE_MAX_DISTANCE)
            handled_ids = {id(t)}
            handled_ids.update(map(id, added))
            exclude_keys = skip  # the handled keys; not mutated again
            cells.append(cell)
        r["cells"] = cells


def _grown_text(r: Dict, i: int, exclude_keys: frozenset) -> str:
    """Text of the cell :func:`grow_cell` grows from token ``i`` of row
    ``r`` with ``exclude_keys`` excluded. On a clean row it walks the
    links left, then right, stopping at an excluded token."""
    toks = r["toks"]
    row = r["index"]
    links = row[3]
    if links is None:
        cell = Cell([toks[i]])
        grow_cell(cell, toks, row, {row[2][i]}, exclude_keys,
                  SPACE_MAX_DISTANCE)
        return cell.text
    lo = i
    while lo > 0 and links[lo - 1] and \
            toks[lo - 1].key() not in exclude_keys:
        lo -= 1
    hi = i
    while hi < len(links) and links[hi] and \
            toks[hi + 1].key() not in exclude_keys:
        hi += 1
    if lo == hi:
        return toks[i].text
    return " ".join([t.text for t in toks[lo:hi + 1]])


# ---------------------------------------------------------------------------
# G5/G6 — column detection (pdf_page.py:422-451, 715-739)
# ---------------------------------------------------------------------------

def find_numeric_cols(toks: List[Tok], min_row_limit: int = 1) -> List[Dict]:
    buckets: Dict[int, Dict] = {}
    for t in toks:
        if sc.is_number_cell(t.text):
            k = math.ceil(t.x1)
            b = buckets.get(k)
            if b is None:
                b = buckets[k] = {"c": 0, "agg": None, "list": []}
            b["c"] += 1
            x0f = math.floor(t.x0)
            if b["agg"] is None or b["agg"] > x0f:
                b["agg"] = x0f
            b["list"].append(t)
    merged = merge_aligned(buckets, TOLERANCE_GEN, "min", "x1")
    cols = []
    for k, b in merged.items():
        if b["c"] > min_row_limit:
            cols.append({"x0": b["agg"], "x1": k, "toks": b["list"]})
    cols.sort(key=lambda c: c["x0"])
    return cols


def find_text_cols(cells: List[Cell], tol: int) -> List[Dict]:
    buckets: Dict[int, Dict] = {}
    for c in cells:
        k = math.floor(c.x0)
        b = buckets.get(k)
        if b is None:
            b = buckets[k] = {"c": 0, "agg": None, "list": []}
        b["c"] += 1
        x1c = math.ceil(c.x1)
        if b["agg"] is None or b["agg"] < x1c:
            b["agg"] = x1c
        b["list"].append(c)
    merged = merge_aligned(buckets, tol, "max", None)
    cols = []
    for k, b in merged.items():
        cols.append({"x0": k, "x1": b["agg"], "cells": b["list"]})
    cols.sort(key=lambda c: c["x0"])
    return cols


# ---------------------------------------------------------------------------
# G7 — unbroken vertical runs (pdf_page.py:453-522)
# ---------------------------------------------------------------------------

class _Probe:
    __slots__ = ("x0", "x1", "y0", "y1")

    def __init__(self, x0, x1, y0, y1):
        self.x0 = x0
        self.x1 = x1
        self.y0 = y0
        self.y1 = y1


def _rows_near(neg_y0: List[int], lo: int, hi: int) -> range:
    """Indices of the rows whose y0 lies in [lo, hi] (``neg_y0`` is
    ascending: rows are sorted by descending y0)."""
    return range(bisect.bisect_left(neg_y0, -hi),
                 bisect.bisect_right(neg_y0, -lo))


def find_runs(cols: List[Dict], rows: List[Dict]):
    all_col_keys = frozenset(t.key() for col in cols for t in col["toks"])
    # rows are sorted by descending y0; a row can meet a probe band
    # [lo, hi] by its y0 or y1, so its y0 lies in the band widened by
    # the row heights' extremes: a bisected window of rows, scanned in
    # order (whether any row breaks a run is order-independent)
    neg_y0 = [-r["y0"] for r in rows]
    heights = [r["y1"] - r["y0"] for r in rows]
    up = max(max(heights, default=0), 0)
    down = max(-min(heights, default=0), 0)
    for col in cols:
        filtered: List[Tok] = []
        for t in col["toks"]:
            r = rows[t.row]
            text = _grown_text(r, r["toks"].index(t), all_col_keys)
            if sc.is_number_cell(text) or \
                    len(text) <= TEXT_MAX_NUMBER_COL:
                filtered.append(t)
        runs: List[Zone] = []
        els = sorted(filtered, key=lambda t: -t.y1)
        # identity membership (m is ft) as an id-set; cached per cell —
        # the all-pairs identity scan was the hot spot of this stage
        filtered_ids = {id(t) for t in filtered}
        usable_cache: Dict[int, bool] = {}

        def cell_usable(cell):
            cid = id(cell)
            u = usable_cache.get(cid)
            if u is None:
                u = usable_cache[cid] = not any(
                    id(m) in filtered_ids for m in cell.members)
            return u

        gx0 = col["x0"]
        gx1 = col["x1"]
        start_y = None
        count = 0
        run_list: List[Tok] = []
        prev = None
        last_i = len(els) - 1
        for i, t in enumerate(els):
            count += 1
            run_list.append(t)
            if count >= 2 and start_y is None and prev is not None:
                start_y = prev.y1
            if start_y is not None and prev is not None:
                # the probe box (col x0, col x1, t.y1, prev.y0): a row
                # breaks the run when one of its usable cells collides
                # with it but is not inside it (box_collides and
                # box_inside, tolerance 3, inlined)
                gy0 = t.y1
                gy1 = prev.y0
                lo = gy0 - TOLERANCE_GEN
                hi = gy1 + TOLERANCE_GEN
                for ri in _rows_near(neg_y0, lo - up, hi + down):
                    r = rows[ri]
                    if not (hi >= r["y0"] >= lo or hi >= r["y1"] >= lo):
                        continue
                    if any(not (gx0 + 3 > c.x1 or gx1 - 3 < c.x0
                                or gy1 - 3 < c.y0 or gy0 + 3 > c.y1)
                           and not (c.x0 >= gx0 - 3 and c.x1 <= gx1 + 3
                                    and c.y0 >= gy0 - 3
                                    and c.y1 <= gy1 + 3)
                           and cell_usable(c)
                           for c in r["cells"]):
                        if count > 2:
                            ua = Zone(col["x0"], col["x1"],
                                      prev.y0, start_y)
                            ua.members = run_list[:-1]
                            runs.append(ua)
                        start_y = t.y1
                        count = 1
                        run_list = [t]
                        break
                if i == last_i and count >= 2 and prev is not None \
                        and start_y is not None:
                    ua = Zone(col["x0"], col["x1"], t.y0, start_y)
                    ua.members = run_list
                    runs.append(ua)
            prev = t
        col["runs"] = runs


# ---------------------------------------------------------------------------
# G8 — run extension (pdf_page.py:524-572)
# ---------------------------------------------------------------------------

def extend_run(run: Zone, rows: List[Dict], upwards: bool, row_idx: int,
               init: bool, limit: Optional[int]):
    if init:
        if row_idx == 0:
            return
        if row_idx == len(rows) - 1:
            return
        row_idx = row_idx - 1 if upwards else row_idx + 1
    else:
        if row_idx < 0 or row_idx > len(rows) - 1:
            return
    if limit is not None:
        if upwards and row_idx <= limit:
            return
        if not upwards and row_idx >= limit:
            return
    r = rows[row_idx]
    if upwards:
        probe = _Probe(run.x0, run.x1, run.y0, r["y1"])
    else:
        probe = _Probe(run.x0, run.x1, r["y0"], run.y1)
    for cell in r["cells"]:
        if box_collides(probe, cell, run.tol) and \
                not box_inside(probe, cell, run.tol) and \
                sc.letter_len(cell.text) > 2:
            return
    if upwards:
        run.y1 = r["y1"]
        nxt = row_idx - 1
    else:
        run.y0 = r["y0"]
        nxt = row_idx + 1
    extend_run(run, rows, upwards, nxt, False, limit)


# ---------------------------------------------------------------------------
# G9 — blank-line breaking (pdf_page.py:596-610, custom_dataclasses.py:426-458)
# ---------------------------------------------------------------------------

def break_at_horizontal(run: Zone, bp: int) -> Optional[Zone]:
    if bp >= run.y1 or bp <= run.y0:
        return None
    former_y0 = run.y0
    run.y0 = bp
    new = Zone(run.x0, run.x1, former_y0, bp)
    keep, moved = [], []
    for el in run.members:
        if not box_inside(run, el, run.tol):
            moved.append(el)
        else:
            keep.append(el)
    run.members = keep
    new.members = moved
    run.refit_x_only()
    new.refit_x_only()
    return new


def break_runs_at_blank_lines(cols_cand: List[Dict], rows: List[Dict]):
    for k in range(1, len(rows)):
        dist = rows[k - 1]["y0"] - rows[k]["y1"]
        if dist >= LINE_BREAK_DISTANCE:
            bp_start = rows[k - 1]["y0"]
            bp_end = rows[k]["y1"]
            for col in cols_cand:
                to_add = []
                for run in col["runs"]:
                    new = break_at_horizontal(run, bp_start)
                    if new is not None:
                        # shave the gap off the new piece ("top" discard)
                        if not (bp_end >= new.y1 or bp_end <= new.y0):
                            new.y1 = bp_end
                        to_add.append(new)
                col["runs"] += to_add


# ---------------------------------------------------------------------------
# G10 — qualification + grouping (pdf_page.py:612-713)
# ---------------------------------------------------------------------------

class Grp:
    """A table group: y-overlapping runs (reference TableGroup,
    custom_dataclasses.py:608-657, fitted on element boxes)."""

    __slots__ = ("zones", "x0", "x1", "y0", "y1", "data_area", "line_items")

    def __init__(self, zones: List[Zone]):
        self.zones = list(zones)
        self.data_area = None
        self.line_items: List = []
        self.refit()

    def refit(self):
        self.x0 = min((z.ex0 for z in self.zones), default=None)
        self.x1 = max((z.ex1 for z in self.zones), default=None)
        self.y0 = min((z.ey0 for z in self.zones), default=None)
        self.y1 = max((z.ey1 for z in self.zones), default=None)

    def add(self, z: Zone):
        z.grouped = True
        self.zones.append(z)
        self.refit()

    def by_row(self) -> Dict[int, List]:
        out: Dict[int, List] = {}
        for z in self.zones:
            for el in z.members:
                out.setdefault(el.row, []).append(el)
        return out


def collect_relevant_areas(cols_cand: List[Dict],
                           toks: List[Tok]) -> List[Zone]:
    """Each run takes, from the page's tokens no earlier run took, those
    inside its grown box or value-equal to one of its members; a taken
    token is copied then, so later stages can merge it freely."""
    pool = list(toks)
    keys = [t.key() for t in pool]
    relevant = []
    is_number_cell = sc.is_number_cell
    letter_len = sc.letter_len
    for col in cols_cand:
        for run in col["runs"]:
            must_keys = {t.key() for t in run.members}
            run.members = []
            nn = nt = 0
            # run's DECLARED box is immutable during the scan (put()
            # expands only the element-fitted box), so box_inside
            # hoists to four precomputed edges
            rx0 = run.x0 - 5
            rx1 = run.x1 + 5
            ry0 = run.y0 - 5
            ry1 = run.y1 + 5
            for i in range(len(pool) - 1, -1, -1):
                el = pool[i]
                if (el.x0 >= rx0 and el.x1 <= rx1 and el.y0 >= ry0
                        and el.y1 <= ry1) or keys[i] in must_keys:
                    run.put(el.copy())
                    if is_number_cell(el.text):
                        nn += 1
                    elif letter_len(el.text) > 0:
                        nt += 1
                    del pool[i]
                    del keys[i]
            if run.members and nn > 0 and nn >= nt:
                relevant.append(run)
    return relevant


def _joined_subareas(zone: Zone) -> List[Zone]:
    """custom_dataclasses.py:539-562."""
    els = sorted(zone.members, key=lambda t: -t.y1)
    out: List[Zone] = []
    cur: List = []
    for k, el in enumerate(els):
        if k == 0:
            cur.append(el)
        else:
            if els[k - 1].y0 - el.y1 < zone.tol:
                cur.append(el)
            else:
                z = Zone()
                z.init_from(cur)
                out.append(z)
                cur = [el]
        if k == len(els) - 1 and cur:
            z = Zone()
            z.init_from(cur)
            out.append(z)
    return out


def _h_overlap_fraction_el(a: Zone, b: Zone) -> float:
    """h_overlap_percent with field_add='_el' — the reference mixes
    el-fitted self edges with PLAIN element edges and PLAIN widths
    (custom_dataclasses.py:170-192); reproduced exactly."""
    x0c, x1c = a.ex0, a.ex1
    if (x0c > b.x1) or (x1c < b.x0):
        return 0.0
    width = a.x1 - a.x0
    if x0c <= b.x0 and x1c >= b.x1:
        return (b.x1 - b.x0) / width
    if b.x0 <= x0c and b.x1 >= x1c:
        return 1.0
    if x0c <= b.x0:
        return min(1.0, (x1c - b.x0) / width)
    return min(1.0, (b.x1 - x0c) / width)


def _stackable(a: Zone, b: Zone) -> bool:
    """custom_dataclasses.py:523-537 (field_add='_el')."""
    if h_inside(a.ex0, a.ex1, b.ex0, b.ex1, a.tol) or \
            h_inside(b.ex0, b.ex1, a.ex0, a.ex1, b.tol) or \
            _h_overlap_fraction_el(a, b) > 0.6:
        for ra in _joined_subareas(a):
            for rb in _joined_subareas(b):
                if box_collides(ra, rb, ra.tol):
                    return False
        return True
    return False


def _combine(a: Zone, b: Zone) -> Zone:
    """custom_dataclasses.py:564-595: union boxes; a's members are
    copied (the reference deepcopies self), b's join by reference."""
    c = Zone(a.x0, a.x1, a.y0, a.y1, a.tol)
    c.ex0, c.ex1, c.ey0, c.ey1 = a.ex0, a.ex1, a.ey0, a.ey1
    c.members = [m.copy() if isinstance(m, Tok) else m for m in a.members]
    c.rows = set(a.rows)
    c.grouped = a.grouped
    if b.x0 < a.x0:
        c.x0 = b.x0
    if b.y0 < a.y0:
        c.y0 = b.y0
    if b.ex0 is not None and a.ex0 is not None and b.ex0 < a.ex0:
        c.ex0 = b.ex0
    if b.ey0 is not None and a.ey0 is not None and b.ey0 < a.ey0:
        c.ey0 = b.ey0
    if b.x1 > a.x1:
        c.x1 = b.x1
    if b.y1 > a.y1:
        c.y1 = b.y1
    if b.ex1 is not None and a.ex1 is not None and b.ex1 > a.ex1:
        c.ex1 = b.ex1
    if b.ey1 is not None and a.ey1 is not None and b.ey1 > a.ey1:
        c.ey1 = b.ey1
    c.members += b.members
    c.refit_el_all()
    return c


def group_areas(relevant: List[Zone], wide_layout: bool) -> List[Grp]:
    areas = sorted(relevant, key=lambda z: -z.ey1)
    groups: List[Grp] = []
    for k, ar in enumerate(areas):
        if ar.grouped:
            continue
        # seed is (reference quirk) never flagged as grouped
        grp = Grp([ar])
        for kk in range(k + 1, len(areas)):
            ar2 = areas[kk]
            if not ar2.grouped and v_overlap(ar2.ey0, ar2.ey1, grp.y0,
                                             grp.y1, ar2.tol):
                grp.add(ar2)
        groups.append(grp)

    # split groups whose columns are too far apart (pdf_page.py:654-672);
    # appended splits are themselves revisited
    sep = SEPARATE_COLUMNS_DISTANCE_WIDE if wide_layout else \
        SEPARATE_COLUMNS_DISTANCE
    gi = 0
    while gi < len(groups):
        g = groups[gi]
        g.zones.sort(key=lambda z: z.ex0)
        break_at = None
        for k in range(1, len(g.zones)):
            if x_distance(g.zones[k], g.zones[k - 1]) > sep:
                break_at = k
                break
        if break_at is not None:
            new_zones = []
            for kk in range(len(g.zones) - 1, break_at - 1, -1):
                g.zones[kk].grouped = False
                new_zones.append(g.zones[kk])
                del g.zones[kk]
            g.refit()
            groups.append(Grp(new_zones))
        gi += 1

    # combine vertically stackable columns inside each group
    # (pdf_page.py:674-691)
    for g in groups:
        g.zones.sort(key=lambda z: z.ey1)
        handled: set = set()
        a = 0
        while a < len(g.zones):
            if a not in handled:
                for b in range(len(g.zones)):
                    if a != b and b not in handled and \
                            _stackable(g.zones[a], g.zones[b]):
                        handled.add(a)
                        handled.add(b)
                        g.zones.append(_combine(g.zones[a], g.zones[b]))
                        break
            a += 1
        for idx in sorted(handled, reverse=True):
            del g.zones[idx]

    # data area = intersection box (pdf_page.py:693-711)
    for g in groups:
        x0 = x1 = y0 = y1 = None
        for z in g.zones:
            mnx0 = max(z.x0, g.x0)
            mxx1 = min(z.x1, g.x1)
            mny0 = max(z.y0, g.y0)
            mxy1 = min(z.y1, g.y1)
            x0 = mnx0 if x0 is None or mnx0 < x0 else x0
            x1 = mxx1 if x1 is None or mxx1 > x1 else x1
            y0 = mny0 if y0 is None or mny0 < y0 else y0
            y1 = mxy1 if y1 is None or mxy1 > y1 else y1
        if x0 is not None:
            g.data_area = Zone(x0, x1, y0, y1)
    return groups


# ---------------------------------------------------------------------------
# T1 — line-item detection (pdf_page.py:741-842)
# ---------------------------------------------------------------------------

def _make_value(el) -> Dict:
    v = el.text if el is not None else ""
    n = sc.clean_numeric_value(v) if v != "" else None
    return {"el": el, "v": v, "n": n}


def _value_empty(v: Dict) -> bool:
    return v["v"].strip() == ""


class Item:
    """A table row: caption cell + values (reference LineItem,
    custom_dataclasses.py:697-753)."""

    __slots__ = ("cell", "groups", "values")

    def __init__(self, el=None, num_cols: Optional[int] = None):
        self.cell = Cell([])
        self.groups: List[Cell] = []
        self.values: List[Dict] = (
            [_make_value(None) for _ in range(num_cols)]
            if num_cols is not None else [])
        if el is not None:
            self.add_el(el)

    def add_el(self, el):
        if isinstance(el, Cell):
            if not any(g is el for g in self.groups):
                self.groups.append(el)
            for t in el.members:
                self.cell.add(t)
        else:
            self.cell.add(el)

    @property
    def caption(self) -> str:
        return self.cell.text


def _adjacent_percent(g: Grp, zone: Zone, lines_cleaned: List[str]) -> float:
    """NaturalTextHelper.is_adjacent_percent
    (custom_dataclasses.py:773-795)."""
    all_rows = g.by_row()
    matches = 0
    for row_idx, els in all_rows.items():
        relevant = sorted([c for c in zone.members
                           if c.row == els[0].row], key=lambda c: c.x0)
        if relevant:
            if len(relevant) == 1:
                text_li = sc.clean_text_for_matching(relevant[0].text)
            else:
                text_li = sc.clean_text_for_matching(
                    relevant[0].text + relevant[1].text)
            base_sorted = sorted(els, key=lambda e: e.x0)
            if len(els) == 1:
                item_text = sc.clean_text_for_matching(base_sorted[0].text)
            else:
                item_text = sc.clean_text_for_matching(
                    base_sorted[0].text + base_sorted[1].text)
            for line in lines_cleaned:
                if line.startswith(text_li) and item_text in line:
                    matches += 1
                    break
    return matches / len(all_rows)


def detect_line_items(groups: List[Grp], rows: List[Dict],
                      lines_cleaned: List[str]):
    candidates_src = [cell for r in rows for cell in r["cells"]
                      if not sc.is_number_cell(cell.text)]
    text_cols = find_text_cols(candidates_src, TOLERANCE_COLUMNS_LI)
    for col in text_cols:
        z = Zone()
        z.init_from(col["cells"])
        col["zone"] = z

    for g in groups:
        value_rows: List[int] = []
        for z in g.zones:
            for el in z.members:
                if el.row not in value_rows:
                    value_rows.append(el.row)
        value_rows = sorted(value_rows)

        cands = []
        for col in text_cols:
            cz = col["zone"]
            if cz.x0 is not None and cz.x0 < g.x0 and v_overlap(
                    cz.y0, cz.y1, g.y0, g.y1, cz.tol):
                overlapping = [c for c in col["cells"]
                               if c.row in value_rows]
                if not overlapping:
                    continue
                oz = Zone()
                oz.init_from(overlapping)
                cands.append({"score": 0.0, "zone": oz,
                              "value_rows": value_rows})

        chosen = None
        if len(cands) == 1:
            chosen = cands[0]
        elif len(cands) > 1:
            cands.sort(key=lambda c: g.x0 - c["zone"].x0)
            n = len(cands)
            # weights: words 5, distance 1, completeness 5, text-fit 8
            # (pdf_page.py:784)
            for k, cd in enumerate(cands):
                nvr = len(cd["value_rows"])
                words = sum(
                    1 for c in cd["zone"].members
                    if len(sc.words_contained(c.text)) > 0) / nvr
                completeness = len(cd["zone"].members) / nvr
                distance = 1 if n == 1 else 1 - (k / (n - 1))
                fits = _adjacent_percent(g, cd["zone"], lines_cleaned)
                cd["score"] = (5 * words + 1 * distance
                               + 5 * completeness + 8 * fits)
            scores = [c["score"] for c in cands]
            chosen = cands[scores.index(max(scores))]

        items_by_row: Dict[int, Item] = {}
        if chosen is not None:
            cz = chosen["zone"]

            def eligible(el) -> bool:
                return (not box_inside(g, el, 3)
                        and not box_collides(g, el, 3)
                        and el.x0 < g.x0
                        and (cz.x0 <= el.x0 or box_inside(cz, el, cz.tol)
                             or h_overlap(cz.x0, cz.x1, el.x0, el.x1,
                                          cz.tol)))

            for row_index, r in enumerate(rows):
                if row_index in chosen["value_rows"] or (
                        g.y1 > r["y1"] > g.y0) or (g.y1 > r["y0"] > g.y0):
                    for el in r["cells"]:
                        if eligible(el):
                            if row_index not in items_by_row:
                                items_by_row[row_index] = Item(el)
                            else:
                                items_by_row[row_index].add_el(el)
                    if row_index not in items_by_row:
                        for el in r["toks"]:
                            if eligible(el):
                                if row_index not in items_by_row:
                                    items_by_row[row_index] = Item(el)
                                else:
                                    items_by_row[row_index].add_el(el)
        g.line_items = list(items_by_row.values())


# ---------------------------------------------------------------------------
# T2-T6 — table assembly (pdf_page.py:844-956,
# custom_dataclasses.py:876-1036)
# ---------------------------------------------------------------------------

class TableK:
    """Final table (reference ExtractedTable)."""

    _SPACE_COLS = 5

    __slots__ = ("g_index", "items", "num_rows", "num_cols", "by_row",
                 "li_area", "tva", "table_area", "value_areas",
                 "x0", "x1", "y0", "y1", "in_area")

    def __init__(self, items: List[Item], g_index: int):
        self.g_index = g_index
        self.set_items(items)

    def set_items(self, items: List[Item]):
        self.items = sorted(items, key=lambda li: li.cell.row)
        self.set_areas()
        self.num_rows = len(self.items)
        self.num_cols = len(self.items[0].values) if self.items else 0
        self.by_row = {li.cell.row: li for li in items}
        self.x0 = self.table_area.x0
        self.x1 = self.table_area.x1
        self.y0 = self.table_area.y0
        self.y1 = self.table_area.y1

    def set_areas(self):
        """custom_dataclasses.py:970-1008 including the value-area
        stretching."""
        self.li_area = Zone()
        self.tva = Zone()
        self.table_area = Zone()
        self.value_areas = []
        if not self.items:
            return
        li_els: List = []
        val_els: List[List] = [[] for _ in self.items[0].values]
        for li in self.items:
            li_els += list(li.groups) + [li.cell]
            for k, v in enumerate(li.values):
                if k >= len(val_els):
                    raise KernelTableError("ragged value columns")
                val_els[k].append(v["el"])
        tva_els = [el for colv in val_els for el in colv]
        self.li_area.init_from(li_els)
        self.tva.init_from(tva_els)
        self.table_area.init_from(tva_els + li_els)
        for colv in val_els:
            z = Zone()
            z.init_from(colv)
            self.value_areas.append(z)
        vas = sorted([z for z in self.value_areas if z.members],
                     key=lambda z: z.x0)
        for a in range(len(vas) - 1, 0, -1):
            vas[a].x0 = min(vas[a].x0, vas[a - 1].x1 + self._SPACE_COLS)
            vas[a].y1 = max(vas[a].y1, self.li_area.y1)
            vas[a].y0 = min(vas[a].y0, self.li_area.y0)
        if len(vas) > 1:
            vas[0].x0 = min(vas[0].x0, vas[0].x1 - (vas[1].x1 - vas[1].x0))
            vas[0].y1 = max(vas[0].y1, self.li_area.y1)
            vas[0].y0 = min(vas[0].y0, self.li_area.y0)
        if len(vas) > 0:
            self.li_area.x1 = max(self.li_area.x1,
                                  vas[0].x0 - self._SPACE_COLS)

    def fill_empty_items(self, value_grid: Dict[int, List]):
        """custom_dataclasses.py:893-924."""
        final: List[Item] = []
        num_cols = 0
        for row_index, vals in value_grid.items():
            num_cols = len(vals) if len(vals) > 0 else num_cols
            chosen = None
            for li in self.items:
                if li.cell.row == row_index:
                    chosen = li
                    break
            if chosen is None:
                default_el = next((v for v in vals if v is not None), None)
                if default_el is None:
                    raise KernelTableError("empty values")
                chosen = Item(Tok(int(self.li_area.x0),
                                  int(self.li_area.x1),
                                  default_el.y0, default_el.y1, "",
                                  False, row_index))
            if chosen.values:
                raise KernelTableError("values already assigned")
            chosen.values = [_make_value(v) for v in vals]
            final.append(chosen)
        self.set_items(final)
        for li in self.items:
            if len(li.values) == 0:
                li.values = [_make_value(None) for _ in range(num_cols)]
            elif len(li.values) != num_cols:
                raise KernelTableError("number of columns not consistent")

    def remove_column(self, ci: int):
        for li in self.items:
            del li.values[ci]
        self.set_items(self.items)

    def add_to_items(self, base_el: Cell):
        """custom_dataclasses.py:1026-1036."""
        if base_el.row not in self.li_area.rows:
            new_item = Item(base_el, len(self.items[0].values))
            items = list(self.items)
            items.append(new_item)
            self.set_items(items)
        else:
            self.by_row[base_el.row].add_el(base_el)
        self.set_areas()

    def add_value(self, el, col_idx: int):
        li = self.by_row.get(el.row)
        if li is not None and col_idx <= len(li.values) - 1 and \
                _value_empty(li.values[col_idx]):
            li.values[col_idx] = _make_value(el)


def _split_table_if_needed(t: TableK) -> List[TableK]:
    """pdf_page.py:844-862."""
    for k in range(1, len(t.items)):
        if abs(t.items[k - 1].cell.y0 - t.items[k].cell.y1) > \
                SEPARATE_TABLE_DISTANCE:
            out = [TableK(t.items[:k], t.g_index)]
            out += _split_table_if_needed(TableK(t.items[k:], t.g_index))
            return out
    return [t]


def _filter_empty_columns(tables: List[TableK], min_cols: int):
    """pdf_page.py:12-25."""
    for ti in range(len(tables) - 1, -1, -1):
        t = tables[ti]
        if t.items:
            for ci in range(len(t.items[0].values) - 1, -1, -1):
                if all(_value_empty(li.values[ci]) for li in t.items):
                    t.remove_column(ci)
        if not t.items or len(t.items[0].values) < min_cols:
            del tables[ti]
    return tables


def _merge_grid_value(cur, nxt):
    """Duplicate grid-slot merge (pdf_page.py:908-916 +
    custom_dataclasses.py:343-366): snapshot, then positional concat."""
    snap = Tok(cur.x0, cur.x1, cur.y0, cur.y1, cur.text,
               getattr(cur, "bold", False), cur.row)
    snap.merge_in(nxt)
    return snap


def extract_tables(groups: List[Grp], rows: List[Dict], min_rows: int,
                   min_cols: int) -> List[TableK]:
    tables: List[TableK] = []
    for g_index, g in enumerate(groups):
        if len(g.zones) < min_cols:
            continue
        g.zones.sort(key=lambda z: z.ex1)
        value_grid: Dict[int, List] = {
            r: [None] * len(g.zones) for r in g.by_row().keys()}
        for k, z in enumerate(g.zones):
            z.members.sort(key=lambda t: (t.x0, -t.y1))
            for el in z.members:
                bounding = None
                ek = el.key()
                for cell in rows[el.row]["cells"]:
                    if cell.key_is(ek) or value_in(el, cell.members):
                        bounding = cell
                        break
                if bounding is None:
                    continue
                if sum(1 for m in bounding.members
                       if sc.is_number_cell(m.text)) > 1:
                    bounding = el
                if bounding.row not in value_grid:
                    continue
                cur = value_grid[bounding.row][k]
                if cur is None:
                    value_grid[bounding.row][k] = bounding
                elif cur.text == bounding.text:
                    continue
                else:
                    value_grid[bounding.row][k] = _merge_grid_value(
                        cur, bounding)

        final_table = TableK(g.line_items, g_index)
        final_table.fill_empty_items(value_grid)
        separated = _split_table_if_needed(final_table)
        separated = _filter_empty_columns(separated, min_cols)
        tables += separated

    tables.sort(key=lambda t: -t.table_area.y1)
    # overlapping-table dedup, larger rows*cols wins (pdf_page.py:937-954)
    to_del: set = set()
    for k, t in enumerate(tables):
        if len(t.items) < min_rows:
            to_del.add(k)
        if k in to_del:
            continue
        for kk in range(k + 1, len(tables)):
            if kk in to_del:
                continue
            if box_collides(t.table_area, tables[kk].table_area,
                            t.table_area.tol):
                s1 = t.num_rows * t.num_cols
                s2 = tables[kk].num_rows * tables[kk].num_cols
                to_del.add(k if s1 < s2 else kk)
    return [t for k, t in enumerate(tables) if k not in to_del]


# ---------------------------------------------------------------------------
# T7 — reconciliation (pdf_page.py:958-1022)
# ---------------------------------------------------------------------------

def _zone_contains_cell(zone: Zone, cell) -> bool:
    """Area.contains (custom_dataclasses.py:597-605)."""
    ck = cell.key()
    for el in zone.members:
        if isinstance(el, Cell):
            if el.key_is(ck):
                return True
            if not isinstance(cell, Cell):
                for m in el.members:
                    if m.key() == ck:
                        return True
        elif el.key() == ck:
            return True
    return False


def reconcile(tables: List[TableK], rows: List[Dict]) -> List[tuple]:
    """Walk row cells top-down, absorbing stragglers into colliding
    tables or emitting them as text elements; tables splice into output
    order after earlier splits of the same group."""
    table_seq: List[TableK] = []  # reference's all_elements (tables only)
    out: List[tuple] = []  # ('table', t) / ('text', cell)
    for r in rows:
        for base_el in r["cells"]:
            in_table = False
            for t in tables:
                if box_collides(t.table_area, base_el, t.table_area.tol) \
                        or box_inside(t.table_area, base_el,
                                      t.table_area.tol):
                    in_table = True
                    if not any(t is x for x in table_seq):
                        inserted = False
                        same_g = [i for i, x in enumerate(table_seq)
                                  if x.g_index == t.g_index]
                        if same_g:
                            idx = same_g[-1]
                            table_seq.insert(idx + 1, t)
                            out.insert(idx + 1, ("table", t))
                            inserted = True
                        if not inserted:
                            table_seq.append(t)
                            out.append(("table", t))
                    if box_inside(t.li_area, base_el, t.li_area.tol) or \
                            _overlap_mean(t.li_area, base_el) > 0.8:
                        if not _zone_contains_cell(t.li_area, base_el):
                            t.add_to_items(base_el)
                    elif box_inside(t.tva, base_el, t.tva.tol):
                        if not any(base_el is m for m in t.tva.members):
                            for col_idx, va in enumerate(t.value_areas):
                                if box_collides(va, base_el, va.tol) or \
                                        box_inside(va, base_el, va.tol):
                                    if not any(base_el is m
                                               for m in va.members):
                                        if base_el.row not in va.rows:
                                            va.put(base_el)
                                            t.add_value(base_el, col_idx)
                                            break
                    else:
                        in_table = False
                    break
            if not in_table:
                out.append(("text", base_el))
    return out


def _overlap_mean(a: Zone, b) -> float:
    """overlap_percent (custom_dataclasses.py:163-168) on plain coords."""
    if a.x0 is None or a.y0 is None:
        return 0.0
    # h percent
    if not h_overlap(a.x0, a.x1, b.x0, b.x1, 0):
        h = 0.0
    else:
        width = a.x1 - a.x0
        if a.x0 <= b.x0 and a.x1 >= b.x1:
            h = (b.x1 - b.x0) / width
        elif b.x0 <= a.x0 and b.x1 >= a.x1:
            h = 1.0
        elif a.x0 <= b.x0:
            h = min(1.0, (a.x1 - b.x0) / width)
        else:
            h = min(1.0, (b.x1 - a.x0) / width)
    if not v_overlap(a.y0, a.y1, b.y0, b.y1, 0):
        v = 0.0
    else:
        height = a.y1 - a.y0
        if a.y0 <= b.y0 and a.y1 >= b.y1:
            v = (b.y1 - b.y0) / height
        elif b.y0 <= a.y0 and b.y1 >= a.y1:
            v = 1.0
        elif a.y0 <= b.y0:
            v = min(1.0, (a.y1 - b.y0) / height)
        else:
            v = min(1.0, (b.y1 - a.y0) / height)
    return (h + v) / 2


# ---------------------------------------------------------------------------
# G11/G12 — paragraphs + layout-model areas
# (extract.py:10-68, custom_dataclasses.py:238-244, 816-873)
# ---------------------------------------------------------------------------

class AreaPred:
    """A scaled layout-model box (reference AreaPrediction,
    custom_dataclasses.py:238-244): y-flipped into page space,
    class_id = position in the *input* list."""

    __slots__ = ("x0", "x1", "y0", "y1", "class_value", "class_id", "prob")

    def __init__(self, x0, x1, y0, y1, class_value, class_id, prob):
        self.x0 = x0
        self.x1 = x1
        self.y0 = y0
        self.y1 = y1
        self.class_value = class_value
        self.class_id = class_id
        self.prob = prob


def scale_area_predictions(rel_areas, page_width: int,
                           page_height: int) -> List[AreaPred]:
    """relative boxes -> page space; prob>0.5 filter + sort by -prob
    (extract.py:10-11). rel_areas: (class_name, x0, x1, y0, y1, prob)."""
    preds = [
        AreaPred(int(a[1] * page_width), int(a[2] * page_width),
                 int((1 - a[4]) * page_height),
                 int((1 - a[3]) * page_height), a[0], k, a[5])
        for k, a in enumerate(rel_areas)
        if a[5] > 0.5
    ]
    return sorted(preds, key=lambda p: -p.prob)


class Figure:
    """reference ExtractedFigure (custom_dataclasses.py:816-822)."""

    __slots__ = ("x0", "x1", "y0", "y1")

    def __init__(self, x0, x1, y0, y1):
        self.x0 = x0
        self.x1 = x1
        self.y0 = y0
        self.y1 = y1

    def text_value(self) -> str:
        return "[figure]"


class Para:
    """A paragraph of row cells; bounds and area ids grow per added
    element, the text is joined when read."""

    __slots__ = ("elements", "x0", "x1", "y0", "y1", "area_ids")

    def __init__(self, el):
        self.elements = []
        self.x0, self.x1, self.y0, self.y1 = el.x0, el.x1, el.y0, el.y1
        self.area_ids = set()
        self.add(el)

    def add(self, el):
        self.elements.append(el)
        self.x0 = min(self.x0, el.x0)
        self.x1 = max(self.x1, el.x1)
        self.y0 = min(self.y0, el.y0)
        self.y1 = max(self.y1, el.y1)
        if getattr(el, "in_area", None) is not None:
            self.area_ids.add(el.in_area.class_id)

    @property
    def text(self) -> str:
        """Reference quirk preserved: line-break test compares the
        UNSORTED previous element against the sorted current one
        (custom_dataclasses.py:856)."""
        s = sorted(self.elements, key=lambda e: (-e.y1, e.x0))
        parts = []
        for k, el in enumerate(s):
            if k > 0 and self.elements[k - 1].y1 - el.y1 > PARA_LINE_BREAK:
                parts.append("\n")
            elif k > 0:
                parts.append(" ")
            parts.append(el.text_value())
        return "".join(parts)


class XText:
    """An extracted text element (wraps a row cell)."""

    __slots__ = ("x0", "x1", "y0", "y1", "cell", "in_area")

    def __init__(self, cell):
        self.x0 = cell.x0
        self.x1 = cell.x1
        self.y0 = cell.y0
        self.y1 = cell.y1
        self.cell = cell
        self.in_area = None

    def text_value(self) -> str:
        return self.cell.text


def make_paragraphs(extracted: List[tuple], page_width: int,
                    natural_text: Optional[str],
                    element_areas: Optional[List[AreaPred]] = None) -> List:
    els: List = []
    for kind, payload in extracted:
        if kind == "table":
            els.append(payload)
        else:
            els.append(XText(payload))
    els = sorted(els, key=lambda e: e.y1, reverse=True)
    nat = natural_text.replace("\n", " ") if natural_text is not None \
        else None
    element_areas = element_areas or []
    figures = [a for a in element_areas if a.class_value == "figure"]
    current: List[Para] = []
    out: List = []
    for el in els:
        # first containing layout-model box wins (extract.py:26-32)
        el.in_area = None
        for area in element_areas:
            if box_inside(area, el, 3):
                el.in_area = area
                break
        if el.in_area is not None and any(el.in_area is f for f in figures):
            continue  # figure contents are routed out (extract.py:33-35)
        if isinstance(el, TableK):
            out.append(el)
            continue
        added = False
        for n in range(len(current) - 1, -1, -1):
            gp = current[n]
            if gp.y0 - el.y1 > PARA_GROUP_TOLERANCE:
                del current[n]
            elif gp.y0 - el.y1 <= PARA_LINE_BREAK:
                add = False
                if h_inside(gp.x0, gp.x1, el.x0, el.x1, 3) or \
                        h_overlap(gp.x0, gp.x1, el.x0, el.x1, 3):
                    add = True
                elif x_distance(gp, el) <= PARA_SPACE_MAX and \
                        el.in_area is not None and \
                        el.in_area.class_id in gp.area_ids:
                    add = True
                elif nat is not None and x_distance(gp, el) <= \
                        PARA_SPACE_MAX:
                    probe = (
                        (gp.elements[-2].text_value() + " "
                         if len(gp.elements) > 1 else "")
                        + gp.elements[-1].text_value() + " "
                        + el.text_value())
                    if probe in nat:
                        add = True
                if add:
                    gp.add(el)
                    added = True
                    break
        if not added:
            p = Para(el)
            current.append(p)
            out.append(p)
    for f in figures:
        out.append(Figure(f.x0, f.x1, f.y0, f.y1))
    return sorted(out, key=lambda e: (1 if e.x0 > (page_width / 2) else 0,
                                      -math.floor(e.y1 / 40)))


# ---------------------------------------------------------------------------
# page / document drivers
# ---------------------------------------------------------------------------

def _page_stream(page: codec.Page) -> List[tuple]:
    """Every source emits its text boxes as :class:`codec.ColumnarBox`
    (``decode_document``, ``layout_group``); chars and rects pass as
    single items."""
    stream: List[tuple] = []
    for box in page.boxes:
        if box.kind == codec.KIND_TEXTBOX:
            stream.append(("boxcols", box))
        elif box.kind == codec.KIND_CHARS:
            for chars in box.lines:
                stream.extend(("char", c) for c in chars)
        else:
            stream.append(("rect", box.rect))
    return stream


def _serialize_table(t: TableK) -> dict:
    return {
        "g_index": t.g_index,
        "num_rows": t.num_rows,
        "num_cols": t.num_cols,
        "area": t.table_area.bounds_list(),
        "total_value_area": t.tva.bounds_list(),
        "value_areas": [a.bounds_list() for a in t.value_areas],
        "items": [
            {
                "caption": li.caption,
                "caption_area": [round(li.cell.x0), round(li.cell.x1),
                                 round(li.cell.y0), round(li.cell.y1)],
                "values": [
                    {"v": v["v"],
                     "n": None if v["n"] is None else str(v["n"])}
                    for v in li.values
                ],
            }
            for li in t.items
        ],
    }


def needs_ocr(page: codec.Page) -> bool:
    """OCR trigger predicate (reference converter.py:136-154): no
    layout items at all, or any ``(cid:`` glyph in a non-empty line."""
    if not page.boxes:
        return True
    screened: Dict[int, bool] = {}
    for box in page.boxes:
        if box.kind != codec.KIND_TEXTBOX:
            continue
        # a "(cid:" glyph implies a non-whitespace line, so the
        # non-empty-line guard is subsumed by the prefix test. The
        # planes' blob is screened once per page; the per-CELL
        # startswith runs only on a hit ("(cid:" spelled out across
        # single-char cells must NOT trigger, matching the reference's
        # per-LTChar test)
        p = box.planes
        hit = screened.get(id(p))
        if hit is None:
            hit = screened[id(p)] = "(cid:" in p.blob
        if not hit:
            continue
        ls = p.line_starts
        for t in p.cell_texts(int(ls[box.l0]), int(ls[box.l1])):
            if t.startswith("(cid:"):
                return True
    return False


def extract_page(page: codec.Page, page_index: int, min_rows: int = 2,
                 min_cols: int = 1, rel_areas=None,
                 ocr_engine=None, force_ocr: bool = False) -> dict:
    if min_cols < 1 or min_rows < 1:
        raise ValueError("a table needs at least one column and one row")
    ocr_fired = False
    if ocr_engine is not None and (force_ocr or needs_ocr(page)):
        # OCR repair branch (converter.py:105-108): the engine's char
        # stream replaces the page's layout; natural text sidecar is
        # dropped (repair_layout returns NaturalTextHelper(None))
        res = ocr_engine(page, page_index)
        if res is not None:
            mediabox, chars = res
            page = codec.Page(mediabox, None,
                              [codec.Box(codec.KIND_CHARS, lines=[chars])])
            ocr_fired = True
    mb = page.mediabox
    page_w_raw = mb[2] - mb[0]
    page_h_raw = mb[3] - mb[1]
    if page_h_raw > page_w_raw:
        mult = float(PAGE_WIDTH_NORMAL / page_w_raw)
    else:
        mult = float(PAGE_WIDTH_HORIZONTAL / page_w_raw)
    px0 = int(mb[0] * mult)
    px1 = int(mb[2] * mult)
    py0 = int(mb[1] * mult)
    py1 = int(mb[3] * mult)
    page_width = px1 - px0
    page_height = py1 - py0
    wide_layout = page_width > page_height

    toks, _nontext = tokenize(_page_stream(page), mult)
    rows = find_rows(toks)
    build_cells(rows)
    cols = find_numeric_cols(toks)
    find_runs(cols, rows)

    cols_cand = [c for c in cols if c["runs"]]
    # run extension within neighbor-run bounds (pdf_page.py:580-593)
    for col in cols_cand:
        for ri, run in enumerate(col["runs"]):
            limit = None if ri == 0 else max(
                t.row for t in col["runs"][ri - 1].members)
            extend_run(run, rows, True,
                       min(t.row for t in run.members), True, limit)
            limit = None if ri == len(col["runs"]) - 1 else min(
                t.row for t in col["runs"][ri + 1].members)
            extend_run(run, rows, False,
                       max(t.row for t in run.members), True, limit)
    break_runs_at_blank_lines(cols_cand, rows)
    relevant = collect_relevant_areas(cols_cand, toks)
    groups = group_areas(relevant, wide_layout)

    nat = page.natural_text
    lines_cleaned = ([sc.clean_text_for_matching(x) for x in nat.split("\n")]
                     if nat is not None else [])
    detect_line_items(groups, rows, lines_cleaned)

    tables = extract_tables(groups, rows, min_rows, min_cols)
    extracted = reconcile(tables, rows)
    element_areas = (scale_area_predictions(rel_areas, page_width,
                                            page_height)
                     if rel_areas else None)
    paragraphs = make_paragraphs(extracted, page_width, nat, element_areas)

    para_items = []
    for el in paragraphs:
        if isinstance(el, TableK):
            para_items.append({"kind": "table", "text": "",
                               "box": [el.x0, el.x1, el.y0, el.y1]})
        elif isinstance(el, Figure):
            para_items.append({"kind": "figure", "text": "[figure]",
                               "box": [el.x0, el.x1, el.y0, el.y1]})
        else:
            para_items.append({"kind": "p", "text": el.text,
                               "box": [el.x0, el.x1, el.y0, el.y1]})
    table_dicts = [_serialize_table(t) for kind, t in extracted
                   if kind == "table"]
    extracted_text = "\n\n".join(x["text"] for x in para_items if x["text"])
    return {
        "page_index": page_index,
        "extracted_text": extracted_text,
        "paragraphs": para_items,
        "tables": table_dicts,
        "n_elements": len(extracted),
        "needs_ocr": False if ocr_fired else needs_ocr(page),
        "ocr_applied": ocr_fired,
    }


def extract_document(blob: bytes, min_rows: int = 2, min_cols: int = 1,
                     areas_by_page: Optional[Dict[int, list]] = None,
                     ocr_engine=None, force_ocr: bool = False,
                     ) -> List[dict]:
    """areas_by_page: optional {page_index: [(class_name, x0, x1, y0,
    y1, prob), ...]} relative layout-model boxes (reference
    ``detected_areas``, extract.py:75-85). ocr_engine: optional
    callable(page, page_index) -> (mediabox, chars) for the OCR repair
    branch (see sources/ocr.py).

    Input dispatch by content magic (upgrading the reference's
    extension dispatch, converter.py:31-38): PLD1/PLD2 layout bytes, or raw
    %PDF bytes via the pure-stdlib decoder (sources/pdf_mini.py —
    verified against the reference's own fixture PDFs and their
    integration-test golden counts, tests/test_real_pdf.py)."""
    if blob[:5] == b"%PDF-":
        from parsee_pdf_reader_spark.sources.pdf_mini import (
            parse_pdf_mini,
        )

        pages = parse_pdf_mini(bytes(blob))
    else:
        pages = codec.decode_document(blob)
    out = []
    for i, p in enumerate(pages):
        rel = areas_by_page.get(i) if areas_by_page else None
        out.append(extract_page(p, i, min_rows, min_cols, rel,
                                ocr_engine, force_ocr))
    return out
