"""Benchmark of the extraction engine; see run.py."""
