"""Regression test kept under its original module name: the LZW encoder
must emit a CLEAR code at the 12-bit dictionary boundary. The other
tests that lived here moved to the per-module test files."""

from __future__ import annotations

import random


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
