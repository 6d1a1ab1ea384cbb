"""Hypothesis property tests over the pure decode primitives.

These pin total-function behavior on ADVERSARIAL input (a 10^12-doc
web crawl contains every possible byte string): the lexer and codecs
must terminate with a value or a clean exception, and every
encoder/decoder pair must round-trip arbitrary payloads.
"""

import random
import sys

sys.path.insert(0, "tests")

from hypothesis import given, settings, strategies as st

from parsee_pdf_reader_spark.sources.pdf_mini import (
    _AES,
    _aes_cbc_decrypt,
    _aes_cbc_encrypt,
    _lzw_decode,
    _rl_decode,
    Lexer,
)
from parsee_pdf_reader_spark.sources.synth import _lzw_encode, _rl_encode

_BYTES = st.binary(min_size=0, max_size=512)


@settings(max_examples=300, deadline=None)
@given(_BYTES)
def test_lexer_total_on_arbitrary_bytes(data):
    """parse_object on arbitrary bytes: a value or a clean exception,
    never a hang (the Lexer is the first thing untrusted bytes hit)."""
    lex = Lexer(data)
    try:
        for _ in range(8):  # a handful of objects per buffer
            if lex.at_end():
                break
            lex.parse_object()
    except Exception:
        pass


@settings(max_examples=200, deadline=None)
@given(_BYTES)
def test_lzw_roundtrip_arbitrary_payload(data):
    assert _lzw_decode(_lzw_encode(data)) == data


@settings(max_examples=200, deadline=None)
@given(_BYTES)
def test_runlength_roundtrip_arbitrary_payload(data):
    assert _rl_decode(_rl_encode(data)) == data


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=256))
def test_lzw_decode_total_on_garbage(data):
    try:
        out = _lzw_decode(data)
        assert isinstance(out, bytes)
    except ValueError:
        pass


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from([16, 24, 32]).flatmap(
        lambda n: st.binary(min_size=n, max_size=n)),
    st.integers(min_value=0, max_value=8),
    st.binary(min_size=16, max_size=16),
    st.randoms(use_true_random=False),
)
def test_aes_cbc_roundtrip(key, nblocks, iv, rnd):
    data = bytes(rnd.randrange(256) for _ in range(16 * nblocks))
    ct = _aes_cbc_encrypt(key, iv, data)
    assert _aes_cbc_decrypt(key, iv + ct, strip_padding=False) == data
    if data:
        assert _AES(key).decrypt_block(
            _AES(key).encrypt_block(data[:16])) == data[:16]


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.tuples(
        st.floats(0, 600, allow_nan=False),   # x0
        st.floats(0.1, 40, allow_nan=False),  # width
        st.floats(0, 780, allow_nan=False),   # y0
        st.floats(0.1, 30, allow_nan=False),  # height
        st.sampled_from("ab1 .)"),
    ),
    min_size=0, max_size=60))
def test_layout_grouping_conserves_chars(raw):
    """Every input char appears in the analyzed output exactly once
    (inserted word-margin spaces are NEW objects); no char is lost or
    duplicated by line/box grouping or ordering."""
    from parsee_pdf_reader_spark.sources.layout_codec import Char
    from parsee_pdf_reader_spark.sources.layout_group import analyze_chars

    chars = [Char(x0, x0 + w, y0, y0 + h, h, False, t)
             for (x0, w, y0, h, t) in raw]
    out = analyze_chars(chars, (0, 0, 612, 792))
    seen = [c for b in out for ln in b.lines for c in ln]
    ids_in = {id(c) for c in chars}
    kept = [c for c in seen if id(c) in ids_in]
    assert len(kept) == len(chars)
    assert len({id(c) for c in kept}) == len(chars)
    # synthetic members are exactly the word-margin spaces
    assert all(c.text == " " for c in seen if id(c) not in ids_in)


def test_lzw_roundtrip_past_12bit_boundary():
    """High-entropy payloads mint a fresh dictionary entry almost every
    step; past ~3.8K entries the encoder used to pack 13-bit codes into
    12-bit fields (silent corruption, 'bad LZW code' on decode). With
    the CLEAR(256)/reset at next_code=4096, arbitrarily large payloads
    round-trip. 30 KB of seeded random bytes crosses the boundary
    several times over."""
    from parsee_pdf_reader_spark.sources.pdf_mini import _lzw_decode
    from parsee_pdf_reader_spark.sources.synth import _lzw_encode

    rng = random.Random(7)
    data = bytes(rng.randrange(256) for _ in range(30000))
    assert _lzw_decode(_lzw_encode(data)) == data
    # compressible payload that still overflows the dictionary
    data2 = b"".join(bytes([i % 251, (i * 7) % 253]) for i in range(20000))
    assert _lzw_decode(_lzw_encode(data2)) == data2
