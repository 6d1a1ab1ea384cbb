"""Tests for the pdfminer-equivalent LAParams pass (layout_group.py).

VERDICT r2 item 2: real PDFs must exercise the reference's PRIMARY
tokenizer path (grouped LTTextBox stream, pdf_page.py:123-207), and we
must show a page where the grouped and raw-char paths actually
diverge — with kernel-vs-reference byte-identity holding on BOTH paths
(the grouping changes WHAT both engines see, never only one side).
"""

from parsee_pdf_reader_spark.sources.layout_codec import (
    Char,
    KIND_CHARS,
    KIND_TEXTBOX,
)
from parsee_pdf_reader_spark.sources.layout_group import (
    analyze_chars,
    group_chars_to_lines,
    group_lines_to_boxes,
    order_boxes,
)

MB = (0.0, 0.0, 612.0, 792.0)


def _c(x0, y0, text, w=10.0, h=10.0, size=10.0):
    return Char(x0, x0 + w, y0, y0 + h, size, False, text)


def _row(text, x0, y0, w=10.0, pitch=None, size=10.0):
    pitch = w if pitch is None else pitch
    return [_c(x0 + i * pitch, y0, t, w=w, size=size)
            for i, t in enumerate(text)]


# --- stage 1: chars -> lines ---


def test_same_baseline_chars_form_one_line():
    lines = group_chars_to_lines(_row("abc", 50, 700))
    assert len(lines) == 1
    assert "".join(c.text for c in lines[0].chars) == "abc"


def test_y_jump_breaks_line():
    chars = _row("ab", 50, 700) + _row("cd", 50, 650)
    lines = group_chars_to_lines(chars)
    assert len(lines) == 2
    assert "".join(c.text for c in lines[0].chars) == "ab"


def test_word_margin_inserts_space_char():
    # gap 5pt > word_margin*max(w,h)=1pt -> synthetic space member
    chars = [_c(50, 700, "a"), _c(65, 700, "b")]
    lines = group_chars_to_lines(chars)
    assert len(lines) == 1
    assert [c.text for c in lines[0].chars] == ["a", " ", "b"]
    sp = lines[0].chars[1]
    # gap bbox: inside the line bounds (tokenizers ignore its geometry)
    assert sp.x0 == 60 and sp.x1 == 65
    # line bbox unaffected by the insertion
    assert lines[0].x0 == 50 and lines[0].x1 == 75


def test_char_margin_splits_wide_gap():
    # gap 25pt > char_margin*max(width)=20pt -> two lines
    chars = [_c(50, 700, "a"), _c(85, 700, "b")]
    lines = group_chars_to_lines(chars)
    assert len(lines) == 2


# --- stage 2: lines -> boxes ---


def test_stacked_aligned_lines_group_into_one_box():
    lines = group_chars_to_lines(
        _row("one", 50, 700) + _row("two", 50, 688) + _row("xyz", 400, 300))
    boxes = group_lines_to_boxes(lines, MB)
    assert len(boxes) == 2
    assert len(boxes[0].lines) == 2  # one/two merged (left-aligned, 12pt)
    assert len(boxes[1].lines) == 1


def test_distant_lines_stay_separate_boxes():
    lines = group_chars_to_lines(
        _row("one", 50, 700) + _row("two", 50, 600))
    boxes = group_lines_to_boxes(lines, MB)
    assert len(boxes) == 2  # 100pt apart >> line_margin*height


# --- stage 3: ordering ---


def test_boxes_flow_orders_top_left_first():
    # emit bottom-right box FIRST in stream order
    chars = (_row("zz", 400, 200) + _row("aa", 50, 700)
             + _row("mm", 300, 700))
    out = analyze_chars(chars, MB)
    texts = ["".join(c.text for ln in b.lines for c in ln)
             for b in out]
    assert texts == ["aa", "mm", "zz"]
    assert all(b.kind == KIND_TEXTBOX for b in out)


def test_box_lines_sorted_top_down():
    # second line emitted first: box-internal order is -y1
    chars = _row("low", 50, 688) + _row("top", 50, 700)
    out = analyze_chars(chars, MB)
    assert len(out) == 1
    lines = out[0].lines
    assert "".join(c.text for c in lines[0]) == "top"
    assert "".join(c.text for c in lines[1]) == "low"


def test_degenerate_chars_fall_through_as_raw():
    chars = [_c(50, 700, "a"), Char(200, 200, 300, 300, 10, False, "z")]
    out = analyze_chars(chars, MB)
    kinds = [b.kind for b in out]
    assert KIND_TEXTBOX in kinds and KIND_CHARS in kinds


# --- grouped vs raw A/B over a real PDF ---


def _one_page_pdf(content: str) -> bytes:
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        (b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
         b"/Resources<</Font<</F1 5 0 R>>>>/Contents 4 0 R>>"),
        (f"<</Length {len(content)}>>\nstream\n{content}\nendstream"
         ).encode(),
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<</Size {len(objs) + 1}/Root 1 0 R>>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def test_grouped_vs_raw_paths_genuinely_differ(reference):
    """A 30pt-font pair with a 2pt kerning gap: the raw-char path
    breaks on char_dist_max=1 (custom_dataclasses.py:22) while the
    grouped path keeps one element (gap < word_margin*30 = 3, so not
    even a space is inserted). Kernel-vs-reference identity must hold
    on BOTH paths — grouping changes the input both engines see, not
    the kernel alone."""
    import refadapter
    from parsee_pdf_reader_spark.kernel.engine import extract_document
    from parsee_pdf_reader_spark.sources import layout_codec as codec
    from parsee_pdf_reader_spark.sources.pdf_mini import parse_pdf_mini

    # Helvetica missing-width fallback: width = 0.5 * size = 15pt
    content = ("BT /F1 30 Tf "
               "1 0 0 1 50 700 Tm (A) Tj "
               "1 0 0 1 67 700 Tm (B) Tj "     # gap = 67-65 = 2pt
               "1 0 0 1 50 600 Tm (next line here) Tj "
               "ET")
    blob = _one_page_pdf(content)

    results = {}
    for mode in (True, False):
        pages = parse_pdf_mini(blob, group=mode)
        enc = codec.encode_document(pages)
        mine = extract_document(enc)
        ref = refadapter.reference_extract_document(enc)
        assert mine[0]["extracted_text"] == ref[0]["extracted_text"], mode
        assert len(mine[0]["paragraphs"]) == len(ref[0]["paragraphs"])
        results[mode] = mine[0]
    grouped, raw = results[True], results[False]
    g_texts = [p["text"] for p in grouped["paragraphs"]]
    r_texts = [p["text"] for p in raw["paragraphs"]]
    assert any("AB" in t for t in g_texts), g_texts   # one element
    assert not any("AB" in t for t in r_texts), r_texts  # split


def test_order_boxes_pathological_page_bounded():
    """Thousands of isolated one-char boxes (adversarial input) must
    not trigger the O(n^2) agglomerative ordering — the cap falls back
    to pdfminer's boxes_flow=None order (top-down, left-right) and
    completes fast."""
    import time

    chars = []
    for i in range(1500):
        x = 40.0 + (i % 30) * 19.0
        y = 770.0 - (i // 30) * 15.0
        chars.append(_c(x, y, "x", w=4.0, h=4.0))
    t0 = time.time()
    out = analyze_chars(chars, MB)
    assert time.time() - t0 < 10.0
    total = sum(len(ln) for b in out for ln in b.lines)
    assert total == 1500
    # ordering: strictly top-down by first line y
    tops = [b.lines[0][0].y1 for b in out]
    assert tops == sorted(tops, reverse=True)
