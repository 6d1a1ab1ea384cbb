"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``--seed``: the same seed gives
byte-identical corpora. The ``documents`` table mimics the repository's
synthetic test table (doc_id, text, lang, source, n_chars: short texts
over a 30-word lexicon, ~5% appended-"dup" near copies, a few exact
copies), so the curation operators see the duplicate structure they
were written for.

Corpora are always written as ``files_per_core * N`` parquet files so
that every core gets input splits (a one-file corpus runs as one or
two tasks and silently measures a single core), and every write is
followed by ``os.sync()`` so dirty-page writeback never overlaps a
timed run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from parsee_pdf_reader_spark.sources.synth import PAGES_SCHEMA

LEXICON = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
FILES_PER_CORE = 4
TS_BASE = pd.Timestamp("2025-06-01")


def make_documents(seed: int, n: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars), ``n`` rows."""
    rng = np.random.default_rng([seed, 1])
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # near copy: an earlier doc + "dup"
            base = texts[int(rng.integers(0, i))]
            texts.append(base.rsplit(" ", 1)[0] + " dup")
            continue
        if i > 0 and r < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n_chars = int(rng.integers(40, 580))
        words = rng.choice(LEXICON, size=n_chars // 3)
        texts.append(" ".join(words)[:n_chars].rstrip())
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def n_files(cores: int) -> int:
    return FILES_PER_CORE * cores


def _write(df, path: str, cores: int) -> None:
    df.repartition(n_files(cores)).write.mode("overwrite").parquet(path)
    os.sync()


def write_documents(spark, docs: pd.DataFrame, path: str,
                    cores: int) -> None:
    _write(spark.createDataFrame(docs), path, cores)


def _pdf_rows(batches, seed):
    from parsee_pdf_reader_spark.sources.synth import build_pdf_document

    for pdf in batches:
        rows = [{"url": f"https://pdf{int(d) % 31}.example/{int(d)}.pdf",
                 "warc_ts": TS_BASE + pd.Timedelta(seconds=int(d)),
                 "html": build_pdf_document(f"doc{int(d)}", seed, t,
                                            stream_filter="flate"),
                 "text": t, "lang": lg}
                for d, t, lg in zip(pdf["doc_id"], pdf["text"], pdf["lang"])]
        if rows:
            yield pd.DataFrame(rows)


def write_mixed_pages(spark, docs: pd.DataFrame, path: str, seed: int,
                      cores: int, pdf_every: int = 4) -> None:
    """Extraction corpus: every ``pdf_every``-th document becomes real
    %PDF bytes with Flate-compressed content streams (stream decode,
    pdf_mini parse, layout grouping), the rest PLD2 layout docs from the
    package's own ``sources.synth.synthesize_pages_df``. Both kinds are
    mixed into every file so tasks cost the same."""
    from pyspark.sql import functions as F

    from parsee_pdf_reader_spark.sources.synth import synthesize_pages_df

    sdf = spark.createDataFrame(docs)  # one slice per core
    is_pdf = F.col("doc_id") % pdf_every == pdf_every - 1
    pld = synthesize_pages_df(spark, sdf.where(~is_pdf), seed=seed)
    pdf = sdf.where(is_pdf).mapInPandas(lambda b: _pdf_rows(b, seed),
                                        PAGES_SCHEMA)
    _write(pld.unionByName(pdf), path, cores)


def train_pages(seed: int, docs: pd.DataFrame):
    """Mixed crawl for ``build_training_corpus``: layout docs, HTML
    pages, stale re-crawls of some urls, planted near-duplicates and
    exact duplicates. Returns (pages pandas frame, facts) where facts
    names the planted structure the output check relies on."""
    from parsee_pdf_reader_spark.sources.synth import (
        build_document,
        build_html_document,
    )

    rng = np.random.default_rng([seed, 2])
    rows, near_pairs, stale = [], [], []

    def add(url, i, blob, lang, age_s=0):
        rows.append({"url": url,
                     "warc_ts": TS_BASE + pd.Timedelta(seconds=int(i) - age_s),
                     "html": blob, "text": "", "lang": lang})

    for d, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
        d = int(d)
        if d % 2 == 0:
            url = f"https://lay{d % 13}.example/{d}.pdf"
            blob, _ = build_document(f"doc{d}", seed, text)
        else:
            url = f"https://web{d % 17}.example/{d}.html"
            blob, _ = build_html_document(f"doc{d}", seed, text)
        add(url, d, blob, lang)
        r = rng.random()
        if r < 0.1:
            # an older snapshot of the same url with other bytes: must be
            # pruned before extraction by the latest-snapshot window
            old, _ = build_html_document(f"old{d}", seed, None)
            add(url, d, old, lang, age_s=86400)
            stale.append(url)
        elif r < 0.2 and d % 2 == 1 and b"</p><p>" in blob:
            # near duplicate: two paragraphs merged into one block, so the
            # token stream (and every shingle) is identical while the
            # extracted text, and its exact-dedup md5, differs
            twin = f"https://mirror{d % 7}.example/{d}.html"
            add(twin, d, blob.replace(b"</p><p>", b" ", 1), lang)
            near_pairs.append((url, twin))
        elif r < 0.25:
            add(f"https://copy{d % 5}.example/{d}", d, blob, lang)
    pages = pd.DataFrame(rows)
    latest = pages.sort_values("warc_ts").drop_duplicates("url", keep="last")
    facts = {"near_pairs": near_pairs, "stale_urls": stale,
             "n_urls": len(latest),
             "n_layout_urls": sum(b[:3] == b"PLD" for b in latest["html"])}
    return pages, facts


def write_train_pages(spark, pages: pd.DataFrame, path: str,
                      cores: int) -> None:
    _write(spark.createDataFrame(pages, PAGES_SCHEMA), path, cores)
