"""parsee_pdf_reader_spark — a PySpark-native document-extraction engine.

A from-scratch distributed reimplementation of the capabilities of
parsee-ai/parsee-pdf-reader (reference at /root/reference, studied for
behaviour only):

- per-document layout extraction (tokenization, row/column clustering,
  numeric-table detection, paragraph assembly) as an Arrow-batched
  vectorized kernel over a DataFrame of Common-Crawl-style pages
  ``(url, warc_ts, html, text, lang)``;
- the reference's scalar functions (numeric parsing, token predicates)
  as native ``pyspark.sql.functions`` column expressions (JVM-side,
  whole-stage-codegen eligible);
- large-scale training-data operators: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), similarity search,
  text-quality analysis, multimodal column plumbing.

Design notes (100 TB target):
- extraction is embarrassingly parallel per document -> it is a *map*
  (``mapInArrow``), never a shuffle;
- every cross-document operator is declared via the DataFrame API so
  Catalyst keeps pushdown/pruning; Python appears only inside
  Arrow-batched kernels.
"""

__version__ = "0.1.0"

import os as _os

# A PySpark worker (the JVM hands it PYTHON_WORKER_FACTORY_SECRET) calls
# importlib.invalidate_caches() before every task; keep its zip directories.
if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    from parsee_pdf_reader_spark import _zipdirs

    _zipdirs.install()
