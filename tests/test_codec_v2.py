"""PLD2 columnar codec: lossless roundtrip, PLD1 equivalence, and
extraction-output invariance (the corpus format must never change
what the kernel extracts)."""

from parsee_pdf_reader_spark.kernel.engine import extract_document
from parsee_pdf_reader_spark.sources import layout_codec as codec
from parsee_pdf_reader_spark.sources.synth import (
    build_document,
    build_stress_document,
)


def _pages_equal(a, b):
    assert len(a) == len(b)
    for pa, pb in zip(a, b):
        assert pa.mediabox == pb.mediabox
        assert pa.natural_text == pb.natural_text
        assert len(pa.boxes) == len(pb.boxes)
        for ba, bb in zip(pa.boxes, pb.boxes):
            assert ba.kind == bb.kind
            assert ba.rect == bb.rect
            assert len(ba.lines) == len(bb.lines)
            for la, lb in zip(ba.lines, bb.lines):
                assert len(la) == len(lb)
                for ca, cb in zip(la, lb):
                    for s in codec.Char.__slots__:
                        assert getattr(ca, s) == getattr(cb, s), s


def _blobs(n=40):
    for i in range(n):
        yield build_document(f"doc{i}", 42)[0]
        yield build_stress_document(f"s{i}", 42)


def test_v2_roundtrip_bit_identical_to_v1():
    for blob in _blobs():
        pages1 = codec.decode_document(blob)
        blob2 = codec.encode_document_v2(pages1)
        assert blob2[:4] == codec.MAGIC2
        pages2 = codec.decode_document(blob2)
        # every coordinate must be the SAME float64 (f32 widened the
        # same way on both paths) — extraction identity depends on it
        _pages_equal(pages1, pages2)


def test_v2_extraction_output_identical():
    for blob in _blobs(25):
        pages = codec.decode_document(blob)
        out1 = extract_document(blob)
        out2 = extract_document(codec.encode_document_v2(pages))
        assert out1 == out2


def test_v2_handles_none_natural_text_and_empty_pages():
    pg = codec.Page((0, 0, 612, 792), None, [])
    blob = codec.encode_document_v2([pg])
    back = codec.decode_document(blob)
    assert back[0].natural_text is None and back[0].boxes == []


def test_sources_emit_columnar_text_boxes():
    """The kernel reads a text box only through its planes, so every
    source must emit ``KIND_TEXTBOX`` boxes as ``ColumnarBox``: PLD1
    and PLD2 decodes, and the grouped %PDF parse under every content
    stream filter and with an xref stream. The ungrouped %PDF parse
    emits its text as ``KIND_CHARS`` only."""
    from parsee_pdf_reader_spark.sources import synth
    from parsee_pdf_reader_spark.sources.pdf_mini import parse_pdf_mini

    def text_boxes(pages):
        boxes = [b for p in pages for b in p.boxes
                 if b.kind == codec.KIND_TEXTBOX]
        assert boxes
        return boxes

    for blob in _blobs(10):
        pld1 = codec.encode_document(codec.decode_document(blob))
        assert (blob[:4], pld1[:4]) == (codec.MAGIC2, codec.MAGIC)
        for b in (blob, pld1):
            assert all(isinstance(x, codec.ColumnarBox)
                       for x in text_boxes(codec.decode_document(b)))
    pdfs = [synth.build_pdf_document("p0", 42, stream_filter=f)
            for f in (None, *synth.PDF_STREAM_FILTERS)]
    pdfs.append(synth.build_pdf_document("x0", 7, xref_kind="stream"))
    for pdf in pdfs:
        assert all(isinstance(x, codec.ColumnarBox)
                   for x in text_boxes(parse_pdf_mini(pdf)))
        raw = parse_pdf_mini(pdf, group=False)
        assert {b.kind for p in raw for b in p.boxes} == {codec.KIND_CHARS}
