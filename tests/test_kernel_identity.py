"""Byte-identity: kernel output == reference engine output.

This is the correctness gate of BASELINE.json (north_rule: "matching
the reference's extracted text/spans per document (byte-identical
extracted text per url)"). The reference itself runs under tests/refshim
on the same PLD1 bytes.
"""

import pytest

from parsee_pdf_reader_spark.kernel.engine import extract_document
from parsee_pdf_reader_spark.sources.synth import build_document


def _compare_doc(key, blob, reference):
    import refadapter

    try:
        ref = refadapter.reference_extract_document(blob)
        ref_err = None
    except Exception as e:
        ref_err = type(e).__name__
    try:
        mine = extract_document(blob)
        my_err = None
    except Exception as e:
        my_err = type(e).__name__
    assert (ref_err is None) == (my_err is None), (
        f"{key}: error divergence mine={my_err} ref={ref_err}")
    if ref_err is not None:
        return
    assert len(mine) == len(ref)
    for m, r in zip(mine, ref):
        pi = r["page_index"]
        assert m["extracted_text"] == r["extracted_text"], \
            f"{key} p{pi}: extracted_text"
        assert m["n_elements"] == r["n_elements"], f"{key} p{pi}: elements"
        assert m["paragraphs"] == r["paragraphs"], f"{key} p{pi}: paragraphs"
        assert m["tables"] == r["tables"], f"{key} p{pi}: tables"


@pytest.mark.parametrize("seed", [42, 7])
def test_kernel_matches_reference_synthetic(reference, seed):
    for i in range(40):
        key = f"doc{i}"
        blob, _ = build_document(key, seed)
        _compare_doc(f"{key}@{seed}", blob, reference)


def test_kernel_matches_reference_real_text(reference):
    import duckdb

    rows = duckdb.sql(
        "select doc_id, text from "
        "'/root/testdata/sf0.001/documents.parquet' limit 60"
    ).fetchall()
    for doc_id, text in rows:
        key = f"doc{doc_id}"
        blob, _ = build_document(key, 42, text)
        _compare_doc(key, blob, reference)


def test_tables_detected_at_all(reference):
    """Guard against vacuous identity (both sides finding nothing)."""
    n_tables = 0
    for i in range(40):
        blob, _ = build_document(f"doc{i}", 42)
        for pg in extract_document(blob):
            n_tables += len(pg["tables"])
    assert n_tables >= 10


def test_kernel_matches_reference_with_area_predictions(reference):
    """Figure routing + layout-model grouping (P6/P7, extract.py:10-35,
    65-66) against the reference."""
    from parsee_pdf_reader_spark.sources.layout_codec import decode_document
    from parsee_pdf_reader_spark.sources.synth import build_area_predictions
    import refadapter

    n_figures = 0
    for i in range(40):
        key = f"doc{i}"
        blob, _ = build_document(key, 42)
        n_pages = len(decode_document(blob))
        areas = build_area_predictions(key, n_pages, 42)
        ref = refadapter.reference_extract_document(blob,
                                                    areas_by_page=areas)
        mine = extract_document(blob, areas_by_page=areas)
        for m, r in zip(mine, ref):
            assert m["extracted_text"] == r["extracted_text"], key
            assert m["paragraphs"] == r["paragraphs"], key
            n_figures += sum(1 for p in r["paragraphs"]
                             if p["kind"] == "figure")
    assert n_figures > 0, "corpus produced no figures — vacuous test"


def test_needs_ocr_predicate():
    """converter.py:136-154 semantics on PLD1 pages."""
    from parsee_pdf_reader_spark.kernel.engine import needs_ocr
    from parsee_pdf_reader_spark.sources import layout_codec as codec

    def page_of(texts):
        chars = [codec.Char(10 + 5 * i, 14 + 5 * i, 700, 710, 10.0, False,
                            t) for i, t in enumerate(texts)]
        return codec.Page((0, 0, 612, 792), None,
                          [codec.ColumnarBox.from_lines(
                              codec.KIND_TEXTBOX, [chars])])

    assert needs_ocr(codec.Page((0, 0, 612, 792), None, []))
    assert not needs_ocr(page_of(list("hello")))
    assert needs_ocr(page_of(["h", "(cid:12)", "x"]))
    # whitespace-only lines don't count
    assert not needs_ocr(codec.Page(
        (0, 0, 612, 792), None,
        [codec.ColumnarBox.from_lines(codec.KIND_TEXTBOX, [[codec.Char(
            0, 4, 700, 710, 10.0, False, " ")]])]))


def test_fast_line_multichar_cells_fall_back():
    """Cells ['a ', '', 'c'] join to a 3-char line over 3 cells, so the
    old total-length guard let the regex fast path run — splitting on
    the embedded space and mis-slicing coordinates. The reference
    treats each layout char as an atomic unit ('a ' is not a flush
    char, pdf_page.py:135-151), so the whole line is ONE token 'a c'
    spanning all three cells."""
    from parsee_pdf_reader_spark.kernel.engine import tokenize
    from parsee_pdf_reader_spark.sources import layout_codec as codec

    line = [
        codec.Char(0, 5, 700, 710, 10.0, False, "a "),
        codec.Char(50, 60, 700, 710, 10.0, False, ""),
        codec.Char(100, 110, 700, 710, 10.0, False, "c"),
    ]
    toks, _ = tokenize([("boxcols", codec.ColumnarBox.from_lines(
        codec.KIND_TEXTBOX, [line]))], 1)
    assert [t.text for t in toks] == ["a c"]
    assert toks[0].x0 == 0 and toks[0].x1 == 110


def test_drift_free_empty_cell_emits_no_token():
    """A lone empty cell between flush chars accumulates no text, so the
    reference loop emits nothing for it (``s_text != ""``,
    pdf_page.py:135-207). A drift-free line gives the tokens the same
    line gives with a trailing drifted space, which takes that loop."""
    from parsee_pdf_reader_spark.kernel.engine import tokenize
    from parsee_pdf_reader_spark.sources import layout_codec as codec

    def toks_of(texts, drift=()):
        line = [codec.Char(5 * i, 5 * i + 5, 700 + (i in drift) * 5,
                           710 + (i in drift) * 5, 10.0, False, t)
                for i, t in enumerate(texts)]
        toks, _ = tokenize([("boxcols", codec.ColumnarBox.from_lines(
            codec.KIND_TEXTBOX, [line]))], 1)
        return [(t.text, t.x0, t.x1) for t in toks]

    steady = toks_of(["a", " ", "", " ", "b"])
    drifted = toks_of(["a", " ", "", " ", "b", " "], drift=(5,))
    assert steady == drifted == [("a", 0, 5), ("b", 20, 25)]


def test_kernel_matches_reference_stress_layouts(reference):
    """Adversarial layouts: near-touching columns, interleaved rows,
    stacked tables, tight leading, numeric captions, duplicate tokens —
    caught the put_element row-set reset quirk
    (custom_dataclasses.py:488-503) in round 1."""
    from parsee_pdf_reader_spark.sources.synth import build_stress_document

    for i in range(60):
        key = f"s{i}"
        blob = build_stress_document(key, 42)
        _compare_doc(key, blob, reference)


def test_t4_table_split_fires_and_matches_reference(reference):
    """A >200pt line-item gap inside ONE table group (offset middle
    text keeps the numeric run unbroken, so only T4 can split it) —
    asserts the split path actually executes, not just that outputs
    agree."""
    from parsee_pdf_reader_spark.kernel import engine
    from parsee_pdf_reader_spark.sources.synth import build_stress_document

    orig = engine._split_table_if_needed
    split_counts = []

    def spy(t):
        r = orig(t)
        if len(r) > 1:
            split_counts.append(len(r))
        return r

    engine._split_table_if_needed = spy
    try:
        fired = 0
        for i in range(40):
            key = f"t4v{i}"
            blob = build_stress_document(key, 42)
            before = len(split_counts)
            _compare_doc(key, blob, reference)
            if len(split_counts) > before:
                fired += 1
    finally:
        engine._split_table_if_needed = orig
    assert fired >= 2, f"T4 split never fired ({split_counts})"


def test_kernel_matches_reference_chaos_scatter(reference):
    """Fully random token scatter (no layout structure): result OR
    exception must match the reference on every document."""
    from parsee_pdf_reader_spark.kernel.engine import extract_document
    from parsee_pdf_reader_spark.sources.synth import build_chaos_document
    from refadapter import reference_extract_document

    for i in range(60):
        blob = build_chaos_document(f"c{i}", 42)
        try:
            mine, my_err = extract_document(blob), None
        except Exception as e:
            mine, my_err = None, type(e).__name__
        try:
            ref, ref_err = reference_extract_document(blob), None
        except Exception as e:
            ref, ref_err = None, type(e).__name__
        assert (my_err is None) == (ref_err is None), \
            f"c{i}: kernel={my_err} reference={ref_err}"
        if mine is not None:
            assert mine[0]["extracted_text"] == ref[0]["extracted_text"]
            assert [(t["num_cols"], t["num_rows"])
                    for t in mine[0]["tables"]] == \
                   [(t["num_cols"], t["num_rows"])
                    for t in ref[0]["tables"]], f"c{i}"


def test_golden_table_shapes(reference):
    """Reference-style golden-count assertions (integration_tests.py:4-47
    model): pinned table shapes for three fixture documents. These pin
    the synthetic corpus + kernel together: regenerating either changes
    the goldens deliberately, not silently."""
    shapes = {}
    for key in ("doc3", "doc7", "s272"):
        if key.startswith("s"):
            from parsee_pdf_reader_spark.sources.synth import (
                build_stress_document,
            )

            blob = build_stress_document(key, 42)
        else:
            blob, _ = build_document(key, 42)
        shapes[key] = [
            (pg["page_index"], t["num_rows"], t["num_cols"])
            for pg in extract_document(blob) for t in pg["tables"]
        ]
    assert shapes["doc3"] == [(0, 12, 3)], shapes["doc3"]
    assert shapes["doc7"] == [(0, 12, 4)], shapes["doc7"]
    assert shapes["s272"] == [(0, 6, 2)], shapes["s272"]


#: sha256 of the kernel's output over ``_pin_corpus`` (JSON, sorted
#: keys). Any change to what G1-G12 or the %PDF front end emit for
#: these inputs changes it; recompute it only for an intended output
#: change, never to absorb a refactor.
KERNEL_OUTPUT_PIN = (
    "8382116c9c724b0b55d506e60e608b20746a8eac8c870b2d2716b28dc7699815")

_NON_ASCII_WORDS = ("Größe façade naïve Übersicht coût año 价格 表格 "
                    "наличие итого ½ € — Ωmega").split()


def _multichar_page():
    """Hand-built page mixing one-char cells with multi-char, empty
    and ``(cid:`` cells, flush chars inside cells and a y-drift line."""
    from parsee_pdf_reader_spark.sources import layout_codec as codec

    def line(texts, y, x=40.0, w=6.0, size=10.0, dy=None):
        out = []
        for i, t in enumerate(texts):
            yy = y + (dy[i] if dy else 0.0)
            out.append(codec.Char(x + w * i, x + w * (i + 1), yy,
                                  yy + size, size, i % 4 == 1, t))
        return out

    lines = [
        line(list("Revenue 1,234 (56)"), 700.0),
        line(["a ", "", "c", " ", "(cid:3)", "x", ")", "y"], 686.0),
        line(list("Net ") + ["inc", "ome"] + list(" 12 34"), 672.0),
        line(list("Total 99 100"), 658.0, dy=[0, 0, 0, 3, 3, 0, 0,
                                               0, 0, 0, 0, 0]),
        line(list("  \t "), 644.0),
        # a line-final token, then a line opening with ")"
        line(list("total 12"), 630.0),
        line(list(") 34 (5)"), 630.0, x=100.0),
    ]
    boxes = [codec.Box(codec.KIND_TEXTBOX, lines=lines),
             codec.Box(codec.KIND_NONTEXT, rect=(30.0, 500.0, 600.0, 640.0)),
             codec.Box(codec.KIND_CHARS,
                       lines=[line(list("loose 7 8"), 600.0)])]
    return codec.Page((0.0, 0.0, 612.0, 792.0),
                      "Revenue 1,234 (56)\nTotal 99 100", boxes)


def _pin_corpus():
    """(key, blob, areas_by_page) over every input flavour the kernel
    dispatches on: PLD2 and PLD1 layout docs, stress and chaos
    layouts, hand-built multi-char cells, non-ASCII text, every %PDF
    content-stream filter, xref streams and area predictions."""
    from parsee_pdf_reader_spark.sources import layout_codec as codec
    from parsee_pdf_reader_spark.sources import synth

    for seed in (42, 7):
        for i in range(30):
            blob, _ = build_document(f"doc{i}", seed)
            yield f"doc{i}@{seed}", blob, None
            if i % 3 == 0:
                yield (f"pld1:doc{i}@{seed}",
                       codec.encode_document(codec.decode_document(blob)),
                       None)
    for i in range(30):
        yield f"s{i}", synth.build_stress_document(f"s{i}", 42), None
        yield f"c{i}", synth.build_chaos_document(f"c{i}", 42), None
    page = _multichar_page()
    yield "multichar:pld1", codec.encode_document([page]), None
    yield "multichar:pld2", codec.encode_document_v2([page]), None
    for i in range(4):
        text = " ".join(_NON_ASCII_WORDS[(i + k) % len(_NON_ASCII_WORDS)]
                        for k in range(120))
        yield f"utf8:{i}", build_document(f"u{i}", 42, text)[0], None
    for filt in (None, *synth.PDF_STREAM_FILTERS):
        for i in range(3):
            yield (f"pdf:{filt}:{i}",
                   synth.build_pdf_document(f"p{i}", 42,
                                            stream_filter=filt), None)
    for i in range(3):
        yield (f"pdf:xref:{i}",
               synth.build_pdf_document(f"x{i}", 7, xref_kind="stream"),
               None)
    yield ("pdf:latin1",
           synth.build_pdf_document("l0", 42, " ".join(
               _NON_ASCII_WORDS[:5] * 12), stream_filter="flate"), None)
    for i in range(12):
        blob, _ = build_document(f"doc{i}", 42)
        n_pages = len(codec.decode_document(blob))
        yield (f"areas:doc{i}", blob,
               synth.build_area_predictions(f"doc{i}", n_pages, 42))


def _kernel_output_digest():
    import hashlib
    import json

    out = []
    for key, blob, areas in _pin_corpus():
        try:
            res = extract_document(blob, areas_by_page=areas)
        except Exception as e:  # error class is part of the output
            res = type(e).__name__
        out.append([key, res])
    return hashlib.sha256(
        json.dumps(out, sort_keys=True).encode()).hexdigest()


def test_kernel_output_pinned():
    """Pins G1-G12 output without the reference checkout: a hash of
    ``extract_document`` over a fixed corpus, computed before the
    kernel's columnar front end replaced the per-char one."""
    assert _kernel_output_digest() == KERNEL_OUTPUT_PIN


def _outputs_with(monkeypatch, name, replacement):
    """Kernel output over the pin corpus with one engine helper
    replaced, and without it."""
    from parsee_pdf_reader_spark.kernel import engine

    corpus = list(_pin_corpus())

    def run():
        out = []
        for key, blob, areas in corpus:
            try:
                out.append(extract_document(blob, areas_by_page=areas))
            except Exception as e:
                out.append(type(e).__name__)
        return out

    fast = run()
    with monkeypatch.context() as m:
        m.setattr(engine, name, replacement)
        slow = run()
    return fast, slow


def test_planar_tokens_match_per_char_loop(monkeypatch):
    """The planar G1 pass and the reference loop give the same tokens:
    with ``_fast_toks`` declining every page, each fast line takes the
    reference loop ``slow_line``."""
    fast, slow = _outputs_with(monkeypatch, "_fast_toks",
                               lambda *a: None)
    assert fast == slow


def test_clean_row_chains_match_full_scan(monkeypatch):
    """Cells and grown column cells on clean rows are the linked runs
    the full restart-on-add scan of ``grow_cell`` finds."""
    from parsee_pdf_reader_spark.kernel import engine

    def no_links(toks):
        xs0, xs1, _keys, _links = engine_row_index(toks)
        return xs0, xs1, [t.key() for t in toks], None

    engine_row_index = engine._row_index
    fast, slow = _outputs_with(monkeypatch, "_row_index", no_links)
    assert fast == slow


def test_run_probe_band_matches_all_rows(monkeypatch):
    """The run-breaking probe visits only the rows near its band; any
    row it skips could not meet the band."""
    fast, slow = _outputs_with(
        monkeypatch, "_rows_near",
        lambda neg_y0, lo, hi: range(len(neg_y0)))
    assert fast == slow


def test_whitespace_table_covers_str_strip():
    """G1's blank-line test reads ``_WS_TABLE``; ``str.strip`` removes
    exactly the code points it marks, and none above U+3000."""
    import sys

    from parsee_pdf_reader_spark.kernel.engine import _WS_TABLE

    ws = [c for c in range(sys.maxunicode + 1) if chr(c).isspace()]
    assert max(ws) < len(_WS_TABLE) - 1
    assert sorted(_WS_TABLE.nonzero()[0].tolist()) == ws
    assert all(chr(c).strip() == "" for c in ws)
