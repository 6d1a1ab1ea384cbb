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
                          [codec.Box(codec.KIND_TEXTBOX, lines=[chars])])

    assert needs_ocr(codec.Page((0, 0, 612, 792), None, []))
    assert not needs_ocr(page_of(list("hello")))
    assert needs_ocr(page_of(["h", "(cid:12)", "x"]))
    # whitespace-only lines don't count
    assert not needs_ocr(codec.Page(
        (0, 0, 612, 792), None,
        [codec.Box(codec.KIND_TEXTBOX, lines=[[codec.Char(
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
    toks, _ = tokenize([("box", [line])], 1)
    assert [t.text for t in toks] == ["a c"]
    assert toks[0].x0 == 0 and toks[0].x1 == 110


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
