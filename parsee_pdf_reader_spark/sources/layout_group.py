"""LAParams-equivalent layout analysis: raw chars -> lines -> textboxes.

The reference consumes pdfminer's analyzed layout (``converter.py:77``
``LAParams()`` -> ``PDFPageAggregator``), so its PRIMARY tokenizer path
(``pdf_page.py:123-207``) walks LTTextBox/LTTextLine trees. pdf_mini's
round-2 output was the raw char stream, which exercised the reference's
OCR-stream path instead. This module reimplements pdfminer.six's public
layout-analysis algorithm (version 20221105, the one the reference pins
in pyproject.toml) over the kernel's ``Char`` model with default
LAParams, so real PDFs now take the same grouped path the reference
takes with real pdfminer:

- chars -> lines  (``group_objects``: line_overlap / char_margin
  incremental run-building; word_margin space insertion);
- lines -> boxes  (``group_textlines``: Plane neighbor search with
  same-height + left/right/center alignment within line_margin);
- box ordering    (``group_textboxes``: agglomerative nearest-pair
  merge tree, then the boxes_flow=0.5 LRTB traversal order).

Differences from pdfminer, all deliberate and tokenizer-neutral:

- word_margin inserts a real space ``Char`` spanning the gap instead of
  a coordinate-less LTAnno: the reference tokenizer flushes on
  ``get_text() == " "`` without reading geometry (pdf_page.py:168), and
  the gap bbox lies inside the line bbox, so both engines see identical
  text and identical line bboxes;
- the trailing LTAnno("\\n") is omitted: the tokenizer's end-of-line
  flush (pdf_page.py:199-201) fires identically with or without it;
- heap tie-breaks use a deterministic counter instead of CPython
  ``id()`` (pdfminer's only nondeterminism).
"""

from __future__ import annotations

import heapq
from typing import Dict, Iterable, List, Optional, Tuple

from parsee_pdf_reader_spark.sources.layout_codec import (
    Box,
    Char,
    ColumnarBox,
    KIND_CHARS,
    KIND_TEXTBOX,
    Planes,
)

LINE_OVERLAP = 0.5
CHAR_MARGIN = 2.0
LINE_MARGIN = 0.5
WORD_MARGIN = 0.1
BOXES_FLOW = 0.5

_INF = float("inf")


# ---------------------------------------------------------------------------
# line / box / group models
# ---------------------------------------------------------------------------


class _Line:
    """LTTextLineHorizontal: members in add order; bbox over real
    chars; word_margin gap -> synthetic space Char (see module doc)."""

    __slots__ = ("chars", "x0", "x1", "y0", "y1", "_lastx1")

    def __init__(self):
        self.chars: List[Char] = []
        self.x0 = _INF
        self.x1 = -_INF
        self.y0 = _INF
        self.y1 = -_INF
        self._lastx1 = _INF  # pdfminer inits _x1 to +INF: no leading gap

    def add(self, c: Char):
        w = c.x1 - c.x0
        h = c.y1 - c.y0
        margin = WORD_MARGIN * (h if h > w else w)  # max(w, h)
        if self._lastx1 < c.x0 - margin:
            self.chars.append(
                Char(self._lastx1, c.x0, c.y0, c.y1, c.size, False, " "))
        self._lastx1 = c.x1
        self.chars.append(c)
        if c.x0 < self.x0:
            self.x0 = c.x0
        if c.x1 > self.x1:
            self.x1 = c.x1
        if c.y0 < self.y0:
            self.y0 = c.y0
        if c.y1 > self.y1:
            self.y1 = c.y1

    @property
    def height(self) -> float:
        return self.y1 - self.y0

    def is_empty(self) -> bool:
        return (self.x1 - self.x0) <= 0 or (self.y1 - self.y0) <= 0


class _BoxG:
    """LTTextBoxHorizontal (also serves as the merge-tree leaf)."""

    __slots__ = ("lines", "x0", "x1", "y0", "y1")

    def __init__(self):
        self.lines: List[_Line] = []
        self.x0 = _INF
        self.x1 = -_INF
        self.y0 = _INF
        self.y1 = -_INF

    def add(self, ln: _Line):
        self.lines.append(ln)
        if ln.x0 < self.x0:
            self.x0 = ln.x0
        if ln.x1 > self.x1:
            self.x1 = ln.x1
        if ln.y0 < self.y0:
            self.y0 = ln.y0
        if ln.y1 > self.y1:
            self.y1 = ln.y1

    def is_empty(self) -> bool:
        return (self.x1 - self.x0) <= 0 or (self.y1 - self.y0) <= 0


class _Group:
    """LTTextGroupLRTB merge node (binary tree over boxes/groups)."""

    __slots__ = ("objs", "x0", "x1", "y0", "y1")

    def __init__(self, a, b):
        self.objs = [a, b]
        self.x0 = min(a.x0, b.x0)
        self.x1 = max(a.x1, b.x1)
        self.y0 = min(a.y0, b.y0)
        self.y1 = max(a.y1, b.y1)


# ---------------------------------------------------------------------------
# Plane: pdfminer's grid spatial hash (insertion-ordered, page-clipped)
# ---------------------------------------------------------------------------


class _Plane:
    def __init__(self, bbox: Tuple[float, float, float, float],
                 gridsize: int = 50):
        self.x0, self.y0, self.x1, self.y1 = bbox
        self.gridsize = gridsize
        self._grid: Dict[Tuple[int, int], list] = {}
        self._seq: List[object] = []
        self._objs: set = set()

    def _getrange(self, bbox):
        # returns a list (not a generator): add/find call this on the
        # hot path and the generator resume overhead measured real
        x0, y0, x1, y1 = bbox
        if x1 <= self.x0 or self.x1 <= x0 \
                or y1 <= self.y0 or self.y1 <= y0:
            return ()
        x0 = max(self.x0, x0)
        y0 = max(self.y0, y0)
        x1 = min(self.x1, x1)
        y1 = min(self.y1, y1)
        gs = self.gridsize
        xr = range(int(x0) // gs, int(x1) // gs + 1)
        return [(gx, gy)
                for gy in range(int(y0) // gs, int(y1) // gs + 1)
                for gx in xr]

    def add(self, obj):
        grid = self._grid
        setd = grid.setdefault
        for k in self._getrange((obj.x0, obj.y0, obj.x1, obj.y1)):
            setd(k, []).append(obj)
        self._seq.append(obj)
        self._objs.add(obj)

    def remove(self, obj):
        for k in self._getrange((obj.x0, obj.y0, obj.x1, obj.y1)):
            try:
                self._grid[k].remove(obj)
            except (KeyError, ValueError):
                pass
        self._objs.discard(obj)

    def extend(self, objs: Iterable):
        for obj in objs:
            self.add(obj)

    def __iter__(self):
        return (o for o in self._seq if o in self._objs)

    def find(self, bbox):
        x0, y0, x1, y1 = bbox
        done = set()
        done_add = done.add
        grid_get = self._grid.get
        out = []
        for k in self._getrange(bbox):
            for obj in grid_get(k, ()):
                i = id(obj)
                if i in done:
                    continue
                done_add(i)
                if obj.x1 <= x0 or x1 <= obj.x0 \
                        or obj.y1 <= y0 or y1 <= obj.y0:
                    continue
                out.append(obj)
        return out


# ---------------------------------------------------------------------------
# stage 1: chars -> lines (LTLayoutContainer.group_objects, horizontal)
# ---------------------------------------------------------------------------


def group_chars_to_lines(chars: List[Char]) -> List[_Line]:
    out: List[_Line] = []
    obj0: Optional[Char] = None
    line: Optional[_Line] = None
    # hot loop (~4k chars/page): previous-char geometry cached in
    # locals, pdfminer's predicate helpers inlined
    p_x0 = p_x1 = p_y0 = p_y1 = 0.0
    for obj1 in chars:
        if obj0 is not None:
            x0 = obj1.x0
            x1 = obj1.x1
            y0 = obj1.y0
            y1 = obj1.y1
            # is_voverlap + line_overlap + char_margin (inlined)
            halign = False
            if y0 <= p_y1 and p_y0 <= y1:
                ph = p_y1 - p_y0
                ch = y1 - y0
                a = p_y0 - y1
                if a < 0:
                    a = -a
                b = p_y1 - y0
                if b < 0:
                    b = -b
                vo = a if a < b else b
                if (ph if ph < ch else ch) * LINE_OVERLAP < vo:
                    # hdistance < max(width) * char_margin
                    if x0 <= p_x1 and p_x0 <= x1:
                        hd = 0.0
                    else:
                        a = p_x0 - x1
                        if a < 0:
                            a = -a
                        b = p_x1 - x0
                        if b < 0:
                            b = -b
                        hd = a if a < b else b
                    pw = p_x1 - p_x0
                    cw = x1 - x0
                    halign = hd < (pw if pw > cw else cw) * CHAR_MARGIN
            # detect_vertical is False by default: no valign branch
            if halign and line is not None:
                line.add(obj1)
            elif line is not None:
                out.append(line)
                line = None
            else:
                if halign:
                    line = _Line()
                    line.add(obj0)
                    line.add(obj1)
                else:
                    single = _Line()
                    single.add(obj0)
                    out.append(single)
        obj0 = obj1
        p_x0 = obj1.x0
        p_x1 = obj1.x1
        p_y0 = obj1.y0
        p_y1 = obj1.y1
    if line is None:
        line = _Line()
        if obj0 is not None:
            line.add(obj0)
        else:
            return out
    out.append(line)
    return out


# ---------------------------------------------------------------------------
# stage 2: lines -> boxes (LTLayoutContainer.group_textlines)
# ---------------------------------------------------------------------------


def _find_neighbors(line: _Line, plane: _Plane) -> List[_Line]:
    d = LINE_MARGIN * line.height
    objs = plane.find((line.x0, line.y0 - d, line.x1, line.y1 + d))
    return [
        o for o in objs
        if (abs(o.height - line.height) <= d
            and (abs(o.x0 - line.x0) <= d
                 or abs(o.x1 - line.x1) <= d
                 or abs((o.x0 + o.x1) / 2 - (line.x0 + line.x1) / 2) <= d))
    ]


def group_lines_to_boxes(lines: List[_Line],
                         page_bbox) -> List[_BoxG]:
    plane = _Plane(page_bbox)
    plane.extend(lines)
    boxes: Dict[int, _BoxG] = {}  # id(line) -> box
    for line in lines:
        neighbors = _find_neighbors(line, plane)
        members = [line]
        for obj1 in neighbors:
            members.append(obj1)
            prev = boxes.pop(id(obj1), None)
            if prev is not None:
                members.extend(prev.lines)
        box = _BoxG()
        seen = set()
        for obj in members:
            if id(obj) in seen:
                continue
            seen.add(id(obj))
            box.add(obj)
            boxes[id(obj)] = box
    done = set()
    out: List[_BoxG] = []
    for line in lines:
        box = boxes.get(id(line))
        if box is None or id(box) in done:
            continue
        done.add(id(box))
        if not box.is_empty():
            out.append(box)
    return out


# ---------------------------------------------------------------------------
# stage 3: box ordering (group_textboxes + IndexAssigner, boxes_flow)
# ---------------------------------------------------------------------------


#: agglomerative ordering is O(n^2 log n) in textbox count — fine for
#: real pages (tens of boxes), a hang vector on adversarial ones
#: (thousands of one-char boxes). Past the cap we use pdfminer's own
#: boxes_flow=None ordering (top-down, then left-right), which is what
#: pdfminer users disable to for the same pathological inputs.
_ORDER_BOXES_CAP = 1000


def order_boxes(boxes: List[_BoxG], page_bbox) -> List[_BoxG]:
    if len(boxes) <= 1:
        return list(boxes)
    if len(boxes) > _ORDER_BOXES_CAP:
        return sorted(boxes, key=lambda b: (-b.y1, b.x0))

    def dist(a, b) -> float:
        x0 = min(a.x0, b.x0)
        y0 = min(a.y0, b.y0)
        x1 = max(a.x1, b.x1)
        y1 = max(a.y1, b.y1)
        return ((x1 - x0) * (y1 - y0)
                - (a.x1 - a.x0) * (a.y1 - a.y0)
                - (b.x1 - b.x0) * (b.y1 - b.y0))

    ids: Dict[int, int] = {}

    def nid(obj) -> int:  # deterministic stand-in for pdfminer's id()
        return ids.setdefault(id(obj), len(ids))

    plane = _Plane(page_bbox)
    plane.extend(boxes)

    def isany(a, b) -> bool:
        x0 = min(a.x0, b.x0)
        y0 = min(a.y0, b.y0)
        x1 = max(a.x1, b.x1)
        y1 = max(a.y1, b.y1)
        others = set(id(o) for o in plane.find((x0, y0, x1, y1)))
        others.discard(id(a))
        others.discard(id(b))
        return bool(others)

    dists: list = []
    for i in range(len(boxes)):
        for j in range(i + 1, len(boxes)):
            a, b = boxes[i], boxes[j]
            dists.append((False, dist(a, b), nid(a), nid(b), a, b))
    heapq.heapify(dists)
    done: set = set()
    while dists:
        skip_isany, d, id1, id2, obj1, obj2 = heapq.heappop(dists)
        if id1 in done or id2 in done:
            continue
        if not skip_isany and isany(obj1, obj2):
            heapq.heappush(dists, (True, d, id1, id2, obj1, obj2))
            continue
        group = _Group(obj1, obj2)
        plane.remove(obj1)
        plane.remove(obj2)
        done.update((id1, id2))
        gi = nid(group)
        for other in plane:
            heapq.heappush(
                dists, (False, dist(group, other), gi, nid(other),
                        group, other))
        plane.add(group)

    ordered: List[_BoxG] = []

    def assign(node):
        if isinstance(node, _BoxG):
            ordered.append(node)
            return
        # LTTextGroupLRTB.analyze: children sorted by the boxes_flow key
        node.objs.sort(
            key=lambda o: ((1 - BOXES_FLOW) * o.x0
                           - (1 + BOXES_FLOW) * (o.y0 + o.y1)))
        for child in node.objs:
            assign(child)

    for root in plane:
        assign(root)
    return ordered


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def analyze_chars(chars: List[Char], mediabox) -> List[Box]:
    """Raw positioned chars -> codec boxes, pdfminer-analysis order:
    KIND_TEXTBOX boxes (lines sorted top-down within each box, boxes in
    boxes_flow traversal order) over one page-level ``Planes``, then
    one KIND_CHARS box holding the chars of degenerate (empty-bbox)
    lines — pdfminer appends empties after the textboxes and the
    reference's parse_layout flattens them to bare chars
    (converter.py:130-131)."""
    if not chars:
        return []
    page_bbox = (float(mediabox[0]), float(mediabox[1]),
                 float(mediabox[2]), float(mediabox[3]))
    lines = group_chars_to_lines(chars)
    empties = [ln for ln in lines if ln.is_empty()]
    lines = [ln for ln in lines if not ln.is_empty()]
    boxes = group_lines_to_boxes(lines, page_bbox)
    boxes = order_boxes(boxes, page_bbox)
    box_lines = []
    for b in boxes:
        # LTTextBoxHorizontal.analyze: lines top-down by -y1
        b.lines.sort(key=lambda ln: -ln.y1)
        box_lines.append([ln.chars for ln in b.lines])
    planes = Planes.from_lines([ln for bl in box_lines for ln in bl])
    out: List[Box] = []
    l0 = 0
    for bl in box_lines:
        out.append(ColumnarBox(KIND_TEXTBOX, planes, l0, l0 + len(bl), bl))
        l0 += len(bl)
    tail = [c for ln in empties for c in ln.chars]
    if tail:
        out.append(Box(KIND_CHARS, lines=[tail]))
    return out
