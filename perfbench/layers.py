"""In-process tracing of the package's public module attributes.

A :class:`Tracer` replaces named module attributes with wrappers that
record a span per call (name, start, end, parent). Spans stay in
memory; self time is a span's duration minus what its child spans
cover. The wrappers live only in the benchmark's own traced process and
are removed again by :meth:`Tracer.close`, so the program is measured
from outside and an untraced run executes unmodified code.

Module attributes are looked up at call time by the code that uses them
(``engine.extract_page`` calls the global ``tokenize``; ``extract_document``
calls ``codec.decode_document``; ``parse_pdf_mini`` imports
``analyze_chars`` on each call), so replacing the attribute on its
defining module is enough to see every call.
"""

from __future__ import annotations

import importlib
import statistics
import time
from collections import defaultdict

PKG = "parsee_pdf_reader_spark."

#: kernel.engine stages traced for self time, in pipeline order
KERNEL_STAGES = (
    "tokenize", "find_rows", "build_cells", "find_numeric_cols",
    "find_runs", "extend_run", "break_runs_at_blank_lines",
    "collect_relevant_areas", "group_areas", "detect_line_items",
    "extract_tables", "reconcile", "make_paragraphs", "needs_ocr")

#: (module, attribute, span name) of every stage inside extract_page; the
#: G12 line cleaning runs both in extract_page and in detect_line_items
STAGE_SPANS = (
    [("kernel.engine", s, "kernel.engine." + s) for s in KERNEL_STAGES]
    + [("kernel.scalars_py", "clean_text_for_matching",
        "kernel.scalars_py.clean_text_for_matching")])

#: (module, attribute, span name) traced over the workload's own blobs
BLOB_SPANS = (
    [("sources.layout_codec", "decode_document",
      "sources.layout_codec.decode"),
     ("sources.pdf_mini", "parse_pdf_mini", "sources.pdf_mini.parse"),
     ("sources.layout_group", "analyze_chars",
      "sources.layout_group.analyze"),
     ("kernel.engine", "extract_page", "kernel.engine.extract_page")]
    + STAGE_SPANS)


class Tracer:
    """Wraps module attributes; records spans while installed."""

    def __init__(self, targets):
        self.spans = []  # (name, start, end, parent index or -1)
        self._stack = []
        self._saved = []
        for mod_name, attr, span in targets:
            mod = importlib.import_module(PKG + mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span))

    def _wrap(self, fn, name):
        spans, stack = self.spans, self._stack
        clock = time.perf_counter

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(idx)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                spans[idx] = (name, t0, clock(), parent)
                stack.pop()

        traced.__wrapped__ = fn
        return traced

    def close(self):
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved = []

    def take(self):
        """Return and forget the spans recorded so far."""
        out = list(self.spans)
        self.spans.clear()
        return out

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def self_times(spans) -> dict:
    """{span name: summed self seconds} over a span list."""
    child = defaultdict(float)
    for name, t0, t1, parent in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out = defaultdict(float)
    for i, (name, t0, t1, _parent) in enumerate(spans):
        out[name] += (t1 - t0) - child[i]
    return out


def inclusive_times(spans) -> dict:
    out = defaultdict(float)
    for name, t0, t1, _parent in spans:
        out[name] += t1 - t0
    return out


def _pct(values, q):
    vals = sorted(values)
    return vals[min(len(vals) - 1, int(q * len(vals)))] if vals else 0.0


def trace_blobs(layout_blobs, html_blobs) -> dict:
    """Single-thread traced pass over the workload's own blobs.

    Each blob is first extracted untraced, then traced, so the pass also
    yields the tracer's own overhead. Returns per-layer metrics: ms/doc
    p50/p99 for the sources layers, mean self ms/doc per kernel stage,
    ``stage_coverage`` and ``trace.overhead``."""
    from parsee_pdf_reader_spark.kernel.engine import extract_document
    from parsee_pdf_reader_spark.operators.html_extract import (
        extract_html_document,
    )

    sources = ("sources.layout_codec.decode", "sources.pdf_mini.parse",
               "sources.layout_group.analyze")
    # a workload without blobs of a kind reports its layers as 0
    m = dict.fromkeys(
        [f"{s}_ms_{q}" for s in sources for q in ("p50", "p99")]
        + [span + "_ms" for _mod, _attr, span in STAGE_SPANS]
        + ["kernel.engine.extract_page_ms", "kernel.engine.extract_page_ms_p99",
           "kernel.engine.stage_coverage", "trace.overhead"], 0.0)
    clock = time.perf_counter
    untraced = 0.0
    traced = 0.0
    per_doc = []
    for blob in layout_blobs:
        t0 = clock()
        extract_document(blob)
        untraced += clock() - t0
    with Tracer(BLOB_SPANS) as tr:
        for blob in layout_blobs:
            t0 = clock()
            extract_document(blob)
            traced += clock() - t0
            spans = tr.take()
            per_doc.append((self_times(spans), inclusive_times(spans)))
    n = len(per_doc)
    if n:
        for span in sources:
            # self time: pdf_mini parse excludes its grouping calls,
            # which are the layout_group span
            vals = [1e3 * st.get(span, 0.0) for st, inc in per_doc
                    if span in inc]
            m[span + "_ms_p50"] = statistics.median(vals) if vals else 0.0
            m[span + "_ms_p99"] = _pct(vals, 0.99)
        page_ms = [1e3 * inc.get("kernel.engine.extract_page", 0.0)
                   for _st, inc in per_doc]
        m["kernel.engine.extract_page_ms"] = sum(page_ms) / n
        m["kernel.engine.extract_page_ms_p99"] = _pct(page_ms, 0.99)
        covered = 0.0
        for _mod, _attr, span in STAGE_SPANS:
            ms = sum(1e3 * st.get(span, 0.0) for st, _inc in per_doc) / n
            m[span + "_ms"] = ms
            covered += ms
        total = m["kernel.engine.extract_page_ms"]
        m["kernel.engine.stage_coverage"] = covered / total if total else 0.0
        m["trace.overhead"] = traced / untraced - 1.0 if untraced else 0.0
    html_ms = []
    for blob in html_blobs:
        t0 = clock()
        extract_html_document(blob)
        html_ms.append(1e3 * (clock() - t0))
    m["operators.html_extract.extract_ms"] = (
        sum(html_ms) / len(html_ms) if html_ms else 0.0)
    m["trace.blobs_traced"] = float(n + len(html_ms))
    return m


class CallTimer(Tracer):
    """Driver wall time of public calls made during a Spark run, summed
    per rep tag (set ``tag`` before each rep)."""

    def __init__(self, targets):
        self.tag = None
        self.by_tag = defaultdict(lambda: defaultdict(float))
        super().__init__(targets)

    def _wrap(self, fn, name):
        clock = time.perf_counter

        def timed(*args, **kwargs):
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.tag is not None:
                    self.by_tag[self.tag][name] += clock() - t0

        timed.__wrapped__ = fn
        return timed
