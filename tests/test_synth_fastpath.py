"""r7 optimization pins: the corpus generator's cent-grid fast path.

``_line_chars`` now computes char positions as integer cents
(x_cents + cumsum(width_cents)) / 100 when the line start sits on the
cent grid, instead of per-char float accumulation + round(…, 2).  The
two are provably equal while the float accumulation stays within
0.005 of the exact decimal sum (it stays within ~1e-10); these tests
pin the equivalence empirically across every corpus flavour and the
off-grid fallback.
"""

from __future__ import annotations

import numpy as np
import pytest

from parsee_pdf_reader_spark.sources import synth


def _slow_reference(text, x, baseline, size, bold=False, y_jitter=0.0):
    # the pre-r7 per-char loop, kept verbatim as the oracle
    chars = []
    cx = x
    for ch in text:
        w = synth.char_width(ch, size)
        chars.append((round(cx, 2), round(cx + w, 2),
                      round(baseline + y_jitter, 2),
                      round(baseline + size + y_jitter, 2), size,
                      bold and ch != " ", ch))
        cx += w
    return chars


def _as_tuples(chars):
    return [(c.x0, c.x1, c.y0, c.y1, c.size, c.bold, c.text)
            for c in chars]


def test_line_chars_on_grid_matches_slow_loop():
    rng = np.random.default_rng(7)
    for _ in range(300):
        n = int(rng.integers(0, 120))
        text = "".join(chr(int(rng.integers(32, 127))) for _ in range(n))
        x = round(float(rng.uniform(0, 600)), 2)
        baseline = round(float(rng.uniform(30, 760)), 2)
        size = float(rng.choice([8.0, 10.0, 12.0, 14.0]))
        jit = float(rng.choice([0.0, 3.0]))
        bold = bool(rng.integers(0, 2))
        got = _as_tuples(synth._line_chars(text, x, baseline, size,
                                           bold, jit))
        want = _slow_reference(text, x, baseline, size, bold, jit)
        assert got == want


def test_line_chars_off_grid_takes_slow_path_and_matches():
    rng = np.random.default_rng(11)
    for _ in range(200):
        text = "total revenue (12,3)45"
        x = float(rng.uniform(2, 560))  # chaos-style raw uniform
        baseline = float(rng.uniform(30, 760))
        got = _as_tuples(synth._line_chars(text, x, baseline, 10.0))
        want = _slow_reference(text, x, baseline, 10.0)
        assert got == want


@pytest.mark.parametrize("builder,key", [
    ("build_stress_document", "s"),
    ("build_chaos_document", "c"),
])
def test_document_builders_stable_across_paths(builder, key):
    # stress uses grid starts (fast), chaos uses raw uniforms (slow
    # fallback); both must round-trip the codec unchanged
    fn = getattr(synth, builder)
    for k in range(25):
        blob = fn(f"fp{key}{k}", 42)
        assert blob[:4] == b"PLD2"


def test_build_document_text_and_bytes_deterministic():
    b1, t1 = synth.build_document("fastpath-doc", 42, "alpha beta " * 60)
    b2, t2 = synth.build_document("fastpath-doc", 42, "alpha beta " * 60)
    assert b1 == b2 and t1 == t2


def test_end_x1_reads_both_line_forms():
    # the generator reads a line's end from a RunSeq (cent-grid start)
    # and from a Char list (off-grid start) alike
    on_grid = synth._line_chars("total 12", 45.0, 700.0, 10.0)
    off_grid = synth._line_chars("total 12", 45.001234, 700.0, 10.0)
    assert isinstance(on_grid, synth.RunSeq)
    assert isinstance(off_grid, list)
    assert synth._end_x1(on_grid) == on_grid.chars()[-1].x1
    assert synth._end_x1(off_grid) == off_grid[-1].x1
    joined = on_grid + synth._line_chars(" ", 99.0, 700.0, 10.0)
    assert synth._end_x1(joined) == joined.chars()[-1].x1
