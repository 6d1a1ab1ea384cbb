"""OCR repair branch: recorded-engine byte-identity vs the reference's
raw-char path, trigger behavior, and gating of native engines."""

import pytest

from parsee_pdf_reader_spark.kernel.engine import extract_document
from parsee_pdf_reader_spark.sources import layout_codec as codec
from parsee_pdf_reader_spark.sources.ocr import (
    RecordedOcrEngine,
    TesseractOcrEngine,
    tesseract_available,
)


def _cid_page():
    """A page whose glyphs are unreadable -> needs_ocr fires."""
    chars = [codec.Char(10 + 30 * i, 35 + 30 * i, 700, 710, 10.0, False,
                        f"(cid:{i})") for i in range(4)]
    return codec.Page((0, 0, 612, 792), None,
                      [codec.Box(codec.KIND_TEXTBOX, lines=[chars])])


def _recording():
    """Tesseract-style word boxes for a 1000x1400 raster, including one
    low-confidence word that the crop-rescan pass corrected."""
    words = ["Total", "revenues", "1,234", "(56)", "net", "income", "789"]
    conf = [95, 91, 88, 40, 93, 92, 96]
    rescan = ["Total", "revenues", "1,234", "(506)", "net", "income",
              "789"]
    lefts = [100 + 140 * (i % 4) for i in range(len(words))]
    tops = [200 + 60 * (i // 4) for i in range(len(words))]
    return {
        "conf": conf + [-1],
        "left": lefts + [0],
        "top": tops + [0],
        "width": [90] * len(words) + [5],
        "height": [30] * len(words) + [5],
        "text": words + ["noise"],
        "text_rescanned": rescan + ["noise"],
    }


def test_rescan_decision_logic():
    """The low-confidence branch itself: crop geometry (padding +
    clamping, converter.py:189-190), the conf>=0 join rule over the
    cropped re-scan output (converter.py:193-194), and that the
    decision actually changes the result."""
    from parsee_pdf_reader_spark.sources.ocr import (
        needs_rescan,
        ocr_words_to_chars,
        rescan_crop_box,
        rescan_text,
    )

    assert needs_rescan(59) and needs_rescan(0)
    assert not needs_rescan(60) and not needs_rescan(-1)

    # padding=2, clamped to the raster on all four sides
    assert rescan_crop_box(10, 20, 110, 50, 1000, 1400) == (8, 18, 112, 52)
    assert rescan_crop_box(1, 0, 999, 1399, 1000, 1400) == (0, 0, 1000,
                                                            1400)

    # join rule: conf>=0 words joined with spaces, EMPTIES INCLUDED,
    # conf<0 rows dropped (exactly converter.py:193-194)
    cropped = {"text": ["(506)", "", "junk", "x"],
               "conf": [80, 55, -1, 0]}
    assert rescan_text(cropped) == "(506)  x"

    data = {"conf": [95, 40], "left": [100, 300], "top": [200, 200],
            "width": [90, 90], "height": [30, 30],
            "text": ["good", "b@d"]}
    crops_seen = []

    def rescanner(k, box):
        crops_seen.append((k, box))
        return {"text": ["bad"], "conf": [88]}

    chars = ocr_words_to_chars(data, 1000, 1400, rescanner)
    # only the low-conf word was re-scanned, with the right geometry
    assert crops_seen == [(1, (298, 198, 392, 232))]
    assert [c.text for c in chars] == ["good", "bad"]
    # y-flip into PDF coords (converter.py:203-204)
    assert (chars[0].y0, chars[0].y1) == (1400 - 230, 1400 - 200)

    # a declining rescanner (None) keeps the original text
    chars2 = ocr_words_to_chars(data, 1000, 1400, lambda k, b: None)
    assert [c.text for c in chars2] == ["good", "b@d"]


def test_osd_rotation_and_raster_size():
    """helper.py:71-96 OSD gate + helper.py:49-68 raster sizing as
    pure functions."""
    from parsee_pdf_reader_spark.sources.ocr import (
        osd_rotation_fix,
        raster_target_size,
    )

    assert osd_rotation_fix({"rotate": 90, "orientation_conf": 4.2}) == -90
    assert osd_rotation_fix({"rotate": 270, "orientation_conf": 1.01}) \
        == -270
    # at/below the 1.0 confidence gate: leave the page alone
    assert osd_rotation_fix({"rotate": 90, "orientation_conf": 1.0}) == 0
    assert osd_rotation_fix({"rotate": 90, "orientation_conf": 0.3}) == 0
    assert osd_rotation_fix({"rotate": 0, "orientation_conf": 9.9}) == 0
    assert osd_rotation_fix({}) == 0

    # long side pinned to target, short side int-truncated
    assert raster_target_size(1000, 1400, 2000) == (1428, 2000)
    assert raster_target_size(1400, 1000, 2000) == (2000, 1428)
    assert raster_target_size(612, 792, 2000) == (1545, 2000)


def test_recorded_engine_exercises_decision_with_raw_rescans(reference):
    """The recording carries the RAW cropped re-scan dict; the engine
    must derive the final text through the join rule (not replay it)."""
    rec = _recording()
    del rec["text_rescanned"]
    # word 3 ('(56)', conf 40) gets a raw cropped re-scan whose conf<0
    # rows must be dropped and whose two kept words joined
    rec["rescans"] = {3: {"text": ["(", "506)", "speck"],
                          "conf": [71, 66, -1]}}
    engine = RecordedOcrEngine({0: rec}, {0: (1000, 1400)})
    _mb, chars = engine(None, 0)
    assert [c.text for c in chars][3] == "( 506)"
    # the decision asked for exactly one crop, with padded geometry
    (k, box), = engine.requested_crops
    assert k == 3
    x0, y0 = rec["left"][3], rec["top"][3]
    assert box == (x0 - 2, y0 - 2, x0 + 90 + 2, y0 + 30 + 2)


def test_ocr_engine_replaces_unreadable_page(reference):
    import refshim
    from pdf_reader.custom_dataclasses import (
        NaturalTextHelper,
        PdfReaderConfig,
    )
    from pdf_reader.extract import make_paragraphs
    from pdf_reader.pdf_page import ParseePdfPage

    blob = codec.encode_document([_cid_page()])
    engine = RecordedOcrEngine({0: _recording()}, {0: (1000, 1400)})
    out = extract_document(blob, ocr_engine=engine)
    assert len(out) == 1
    pg = out[0]
    assert pg["ocr_applied"] and not pg["needs_ocr"]
    assert "Total" in pg["extracted_text"]
    assert "(506)" in pg["extracted_text"]  # rescanned low-conf word

    # byte-identity of the OCR branch: feed the reference the same
    # converted char stream (its raw-LTChar path, pdf_page.py:209-273)
    _mb, chars = engine(None, 0)
    lt_chars = [refshim.FakeLTChar(c.x0, c.x1, c.y0, c.y1, c.text, c.size)
                for c in chars]
    p = ParseePdfPage(0, "", (0, 0, 1000, 1400), lt_chars,
                      PdfReaderConfig(None, None, None),
                      NaturalTextHelper(None))
    elements = p.extract_text_and_tables()
    paragraphs = make_paragraphs(elements, PdfReaderConfig(20, 10, 6),
                                 None, None, p.page_size.width())
    ref_text = "\n\n".join(t for t in (el.get_text() for el in paragraphs)
                           if t)
    assert pg["extracted_text"] == ref_text


def test_ocr_not_applied_to_readable_pages():
    from parsee_pdf_reader_spark.sources.synth import build_document

    blob, _ = build_document("doc0", 42)
    sentinel_calls = []

    def engine(page, page_index):
        sentinel_calls.append(page_index)
        return None

    out = extract_document(blob, ocr_engine=engine)
    assert sentinel_calls == []  # no page triggered OCR
    assert all(not pg["needs_ocr"] for pg in out)


def test_force_ocr_runs_engine_on_every_page():
    from parsee_pdf_reader_spark.sources.synth import build_document

    blob, _ = build_document("doc0", 42)
    calls = []

    def engine(page, page_index):
        calls.append(page_index)
        return None  # engine declines -> native layout kept

    out = extract_document(blob, ocr_engine=engine, force_ocr=True)
    assert calls == list(range(len(out)))


def test_tesseract_engine_is_gated():
    if tesseract_available():
        pytest.skip("tesseract present; gate not applicable")
    with pytest.raises(NotImplementedError):
        TesseractOcrEngine()

