"""In-kernel records and geometry predicates.

The kernel operates on three mutable record types — word tokens
(``Tok``), fused row cells (``Cell``), and rectangular zones (``Zone``)
— plus free-function interval predicates. Tolerance handling mirrors
the reference's ``Rectangle`` algebra (custom_dataclasses.py:93-235):
overlap predicates *shrink* the probe box by a tolerance, containment
predicates *grow* it; the tolerance is part of the semantics.

Object identity vs value identity both matter: the reference
distinguishes Python ``in`` (object identity, e.g. pdf_page.py:416) from
``is_identical`` (rounded-coords + text equality,
custom_dataclasses.py:312-318). ``Tok.key()`` is the value-identity
surface.
"""

from __future__ import annotations

import bisect
from operator import attrgetter
from typing import List, Optional, Set, Tuple

#: the (row, x0) order of a cell's members
_ROW_X0 = attrgetter("row", "x0")


def h_overlap(ax0, ax1, bx0, bx1, tol) -> bool:
    """Shrunk-interval horizontal overlap (custom_dataclasses.py:149-161)."""
    return not (ax0 + tol > bx1 or ax1 - tol < bx0)


def v_overlap(ay0, ay1, by0, by1, tol) -> bool:
    """custom_dataclasses.py:113-125."""
    return not (ay1 - tol < by0 or ay0 + tol > by1)


def h_inside(ax0, ax1, bx0, bx1, tol) -> bool:
    """b horizontally inside grown a (custom_dataclasses.py:133-147)."""
    return bx0 >= ax0 - tol and bx1 <= ax1 + tol


def box_inside(a, b, tol) -> bool:
    """b fully inside grown a (custom_dataclasses.py:222-235)."""
    return (b.x0 >= a.x0 - tol and b.x1 <= a.x1 + tol
            and b.y0 >= a.y0 - tol and b.y1 <= a.y1 + tol)


def box_collides(a, b, tol) -> bool:
    """Shrunk-a intersects b (custom_dataclasses.py:218-220, 326-341)."""
    return h_overlap(a.x0, a.x1, b.x0, b.x1, tol) and v_overlap(
        a.y0, a.y1, b.y0, b.y1, tol)


def x_distance(a, b) -> float:
    """custom_dataclasses.py:93-101 (zero-tolerance overlap -> 0)."""
    if h_overlap(a.x0, a.x1, b.x0, b.x1, 0):
        return 0
    if b.x0 >= a.x1:
        return b.x0 - a.x1
    return abs(a.x0 - b.x1)


class Tok:
    """A word token in scaled page space (int coords).

    Mirrors the observable state of the reference's ``BaseElement``
    (custom_dataclasses.py:282-366): coords truncated via ``int(raw *
    scale)``, ``row`` assigned by row clustering, value identity =
    (coords, text)."""

    __slots__ = ("x0", "x1", "y0", "y1", "text", "bold", "row", "_key")

    def __init__(self, x0: int, x1: int, y0: int, y1: int, text: str,
                 bold: bool, row: Optional[int] = None):
        self.x0 = x0
        self.x1 = x1
        self.y0 = y0
        self.y1 = y1
        self.text = text
        self.bold = bold
        self.row = row
        self._key = None

    def key(self) -> Tuple[int, int, int, int, str]:
        # coords/text are immutable except through merge_in (which
        # invalidates), so the value-identity key is cached. Kernel
        # Toks are constructed with int coords exclusively (``int(raw *
        # mult)`` at every creation site) and merge_in only min/maxes
        # them, so the reference's round() is the identity here and is
        # skipped (r7 perf pass; ~4% of kernel time was these rounds).
        k = self._key
        if k is None:
            k = self._key = (self.x0, self.x1, self.y0, self.y1,
                             self.text)
        return k

    def merge_in(self, other: "Tok"):
        """Positional text concat + bbox union
        (custom_dataclasses.py:343-366)."""
        if abs(other.y1 - self.y1) <= 2:
            if self.x0 < other.x0:
                self.text = self.text + " " + other.text
            else:
                self.text = other.text + " " + self.text
        else:
            if other.y1 > self.y1:
                self.text = other.text + " " + self.text
            else:
                self.text = self.text + " " + other.text
        self.x0 = min(self.x0, other.x0)
        self.x1 = max(self.x1, other.x1)
        self.y0 = min(self.y0, other.y0)
        self.y1 = max(self.y1, other.y1)
        self.row = min(self.row, other.row)
        self._key = None

    def copy(self) -> "Tok":
        return Tok(self.x0, self.x1, self.y0, self.y1, self.text, self.bold,
                   self.row)

    def __repr__(self):
        return f"Tok({self.text!r},{self.x0},{self.x1},{self.y0},{self.y1})"


def value_in(tok: Tok, toks) -> bool:
    """Value-identity membership (custom_dataclasses.py:320-324)."""
    k = tok.key()
    return any(t.key() == k for t in toks)


class Cell:
    """Fused row cell — the reference's ``BaseElementGroup``
    (custom_dataclasses.py:374-398): bbox/text/bold/row derived from
    members; text joins members sorted by (row, x0). ``add`` maintains
    the sorted view incrementally (bisect insort-right == Python's
    stable sort for equal keys), so per-add cost is O(n) join instead
    of O(n log n) sort."""

    __slots__ = ("members", "x0", "x1", "y0", "y1", "_text", "bold",
                 "row", "_ordered")

    def __init__(self, members: List[Tok]):
        self.members = list(members)
        self.refit()

    @property
    def text(self) -> str:
        # Lazily joined from the sorted view (r7 perf pass): ``add``
        # used to rebuild the join per insertion — O(members^2) text
        # bytes per cell — although many cells are only ever probed for
        # geometry during growth. Value-identical: the join input is
        # the same maintained ``_ordered`` list.
        t = self._text
        if t is None:
            t = self._text = " ".join(m.text for m in self._ordered)
        return t

    def refit(self):
        ms = self.members
        if len(ms) == 1:  # the dominant case: every cell starts [tok]
            t = ms[0]
            self.x0 = t.x0
            self.x1 = t.x1
            self.y0 = t.y0
            self.y1 = t.y1
            self._ordered = [t]
            self._text = t.text
            self.bold = t.bold
            self.row = t.row  # min over one element, even if None
            return
        if not ms:
            self.x0 = self.x1 = self.y0 = self.y1 = None
            self._ordered = []
            self._text = None
            self.bold = False
            self.row = 0
            return
        self.x0 = min([t.x0 for t in ms])
        self.x1 = max([t.x1 for t in ms])
        self.y0 = min([t.y0 for t in ms])
        self.y1 = max([t.y1 for t in ms])
        self._ordered = sorted(ms, key=_ROW_X0)
        self._text = None
        self.bold = any([t.bold for t in ms])
        self.row = min([t.row for t in ms])

    @classmethod
    def from_run(cls, toks: List[Tok]) -> "Cell":
        """The cell ``Cell(toks)`` makes, for tokens of one row whose x0
        and x1 both ascend (so the (row, x0) order is ``toks`` and the
        bounds are its ends)."""
        if len(toks) == 1:
            return cls(toks)
        c = cls.__new__(cls)
        c.members = list(toks)
        c._ordered = list(toks)
        c.x0 = toks[0].x0
        c.x1 = toks[-1].x1
        c.y0 = min([t.y0 for t in toks])
        c.y1 = max([t.y1 for t in toks])
        c._text = None
        c.bold = any([t.bold for t in toks])
        c.row = toks[0].row
        return c

    def add(self, tok: Tok):
        self.members.append(tok)
        if len(self.members) == 1:
            self.refit()
            return
        if tok.x0 < self.x0:
            self.x0 = tok.x0
        if tok.x1 > self.x1:
            self.x1 = tok.x1
        if tok.y0 < self.y0:
            self.y0 = tok.y0
        if tok.y1 > self.y1:
            self.y1 = tok.y1
        bisect.insort_right(self._ordered, tok, key=_ROW_X0)
        self._text = None
        if tok.bold:
            self.bold = True
        if tok.row < self.row:
            self.row = tok.row

    def key(self):
        return (round(self.x0), round(self.x1), round(self.y0),
                round(self.y1), self.text)

    def key_is(self, k) -> bool:
        """``self.key() == k``, stopping at the first differing field
        (the text is joined only when the bounds match)."""
        return (round(self.x0) == k[0] and round(self.x1) == k[1]
                and round(self.y0) == k[2] and round(self.y1) == k[3]
                and self.text == k[4])

    def __repr__(self):
        return f"Cell({self.text!r},{self.x0},{self.x1},{self.y0},{self.y1})"


class Zone:
    """A rectangular cluster with both declared and element-fitted boxes
    — the reference's ``Area`` (custom_dataclasses.py:401-605). ``tol``
    is the per-instance detection tolerance (default 3)."""

    __slots__ = ("x0", "x1", "y0", "y1", "ex0", "ex1", "ey0", "ey1",
                 "members", "rows", "tol", "grouped")

    def __init__(self, x0=0, x1=0, y0=0, y1=0, tol=3,
                 members: Optional[List[Tok]] = None):
        self.x0 = x0
        self.x1 = x1
        self.y0 = y0
        self.y1 = y1
        self.ex0 = None
        self.ex1 = None
        self.ey0 = None
        self.ey1 = None
        self.members: List = [] if members is None else members
        self.rows: Set[int] = set()
        self.tol = tol
        self.grouped = False

    # -- element-fitted box maintenance (custom_dataclasses.py:460-521) --

    def put(self, el):
        """put_element (custom_dataclasses.py:460-463): note the
        reference's fit_elements(el) RESETS all_row_indices to just the
        new element's row (custom_dataclasses.py:488-503) — a quirk the
        T7 value-absorption row check depends on; reproduced."""
        self.members.append(el)
        self._expand_el(el)
        self.rows = {el.row}

    def _expand_el(self, el):
        if self.ex0 is None or el.x0 < self.ex0:
            self.ex0 = el.x0
        if self.ey0 is None or el.y0 < self.ey0:
            self.ey0 = el.y0
        if self.ex1 is None or el.x1 > self.ex1:
            self.ex1 = el.x1
        if self.ey1 is None or el.y1 > self.ey1:
            self.ey1 = el.y1

    def refit_el_all(self):
        """fit_elements() with no arg: expands el-box over all members,
        rebuilds row set (custom_dataclasses.py:486-503)."""
        self.rows = set()
        for el in self.members:
            self._expand_el(el)
            self.rows.add(el.row)

    def init_from(self, members):
        """init_with_elements (custom_dataclasses.py:465-484): declared
        box = member bounds; el-box untouched."""
        self.rows = set()
        self.members = [m for m in members if m is not None]
        self.x0 = self.y0 = self.x1 = self.y1 = None
        for el in self.members:
            if self.x0 is None or el.x0 < self.x0:
                self.x0 = el.x0
            if self.y0 is None or el.y0 < self.y0:
                self.y0 = el.y0
            if self.x1 is None or el.x1 > self.x1:
                self.x1 = el.x1
            if self.y1 is None or el.y1 > self.y1:
                self.y1 = el.y1
            self.rows.add(el.row)

    def refit_x_only(self):
        """custom_dataclasses.py:505-521."""
        if not self.members:
            return
        self.x0 = self.ex0 = min(el.x0 for el in self.members)
        self.x1 = self.ex1 = max(el.x1 for el in self.members)

    def bounds_list(self):
        return [round(self.x0), round(self.x1), round(self.y0),
                round(self.y1)]

    def __repr__(self):
        return (f"Zone([{self.x0},{self.x1},{self.y0},{self.y1}],"
                f" el=[{self.ex0},{self.ex1},{self.ey0},{self.ey1}],"
                f" n={len(self.members)})")
