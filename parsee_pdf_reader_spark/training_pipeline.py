"""End-to-end training-data pipeline: the composition a pretraining
corpus build actually runs.

    pages (url, warc_ts, html, text, lang)
      -> latest-snapshot-per-url prune (re-crawls: newest warc_ts
         wins, BEFORE the extraction kernel pays for stale bytes)
      -> one Arrow map: content dispatch (``sniff_kind``), then the
         layout kernel (layout, %PDF) or the DOM boilerplate strip
      -> one tokenization: token counts and the MinHash signature
      -> exact dedup on the EXTRACTED text (canonical url wins)
      -> document length filter
      == the per-document table, materialized here
      -> the near-dup keep verdict, ``dedup.dedup_canonical_df``
         (MinHash LSH pairs -> connected components -> the most
         tokens per component wins), the code the ``dedup_canonical``
         oracle row checks

The per-document table (doc_text, n_tokens, bpe_tokens, is_canonical,
and the signature of canonical rows) is the single materialization
point (``plans.queries.materialize``). The job that stores the LSH
pairs for connected components fills it and the caller's sink reads it
back, so per build each document goes through the layout kernel or the
HTML extractor once, is tokenized once and is signed once.

Every stage is the operator already tested in isolation; this module
is the composition, demonstrating that the pieces share one schema and
one partitioning story (dispatch + extraction are one map emitting a
row per document; dedup is the single hash-exchange; the filter is a
codegen'd projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from parsee_pdf_reader_spark.operators.html_extract import (
    extract_html_document,
    sniff_kind,
)
from parsee_pdf_reader_spark.pipeline import (
    areas_by_page,
    map_documents,
    page_columns,
)

_BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

DOC_TEXT_SCHEMA = ("url string, warc_ts timestamp, lang string, "
                   "doc_text string, source_kind string")


def latest_snapshot_per_url(pages_df: DataFrame) -> DataFrame:
    """Keep only the newest crawl snapshot of each url (re-crawled
    pages appear once per ``warc_ts``; production corpora keep the
    latest and drop the stale bytes BEFORE the expensive extraction
    kernel ever runs — input-side pruning, the same reasoning as
    predicate pushdown). One window on the url key; ties on warc_ts
    (same-second re-fetch) break by the larger payload, then by
    content digest — a TOTAL order over distinct rows, so retries and
    repartitioning cannot flip the winner even for same-length
    variants (null html sorts last at every level)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"),
        F.desc(F.coalesce(F.length("html"), F.lit(-1))),
        F.desc(F.coalesce(F.md5("html"), F.lit(""))))
    return (pages_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def _doc_text_rows(url, warc_ts, lang, blob, areas=None):
    """The DOC_TEXT_SCHEMA row of one payload, or none when its kind is
    unknown, it fails to extract or it has no pages. A layout or %PDF
    document's text is its page texts in page order joined by a blank
    line, null texts skipped as ``concat_ws`` does."""
    from parsee_pdf_reader_spark.kernel.engine import extract_document

    kind = sniff_kind(blob or b"")
    if kind == "unknown":
        return []
    by_page = areas_by_page(areas)
    try:
        if kind == "html":
            text = extract_html_document(blob)["main_text"]
        else:
            pages = extract_document(blob, areas_by_page=by_page)
            if not pages:
                return []
            text = "\n\n".join(p["extracted_text"] for p in pages
                               if p["extracted_text"] is not None)
    except Exception:  # a corrupt member is dropped, never fatal
        return []
    return [{"url": url, "warc_ts": warc_ts, "lang": lang,
             "doc_text": text, "source_kind": kind}]


def _bpe_count(toks):
    """BPE-style token count of a whitespace token array: no ``_BPE``
    alternative matches whitespace, so the text's matches are exactly
    the per-token matches and the count is their sum."""
    return F.aggregate(toks, F.lit(0), lambda n, t: n + F.size(
        F.regexp_extract_all(t, F.lit(_BPE), 0)))


def build_training_corpus(pages_df: DataFrame,
                          min_tokens: int = 30) -> DataFrame:
    """pages -> deduplicated, quality-filtered training rows:
    (url, warc_ts, lang, source_kind, doc_text, n_tokens, bpe_tokens,
    is_canonical, near_dup_cluster, keep). The training set is
    ``where keep``: exact-canonical AND kept by
    ``dedup.dedup_canonical_df`` (the most tokens in its near-dup
    component, the smallest url on ties)."""
    from pyspark.sql import Window

    from parsee_pdf_reader_spark.operators import dedup
    from parsee_pdf_reader_spark.plans.queries import materialize, tokens

    # mandatory, not optional: url is the document identity of every
    # downstream stage (canonical window, cluster join, keep rank), so
    # multiple snapshots of one url MUST be resolved first — and doing
    # it here means the extraction kernel never pays for stale bytes
    docs = map_documents(page_columns(latest_snapshot_per_url(pages_df)),
                         DOC_TEXT_SCHEMA, _doc_text_rows)

    # one tokenization: both counts and the MinHash shingles read this
    # token array (an exact duplicate's signature is dropped below;
    # carrying the tokens through the window shuffle instead would
    # double its bytes)
    docs = docs.withColumn("_toks", tokens("doc_text"))
    sig = dedup.minhash_sig(F.col("_toks"))
    docs = docs.select("url", "warc_ts", "lang", "doc_text", "source_kind",
                       F.size("_toks").alias("n_tokens"),
                       _bpe_count(F.col("_toks")).alias("bpe_tokens"),
                       sig.alias("sig"))

    # exact dedup on extracted text; first url (lexicographic)
    # canonical. The length filter sits above the window, where the
    # optimizer cannot push it into the tokenizing projection (that
    # would tokenize every row twice); rows of one md5 group share
    # their text, so it keeps or drops whole groups either way
    w = Window.partitionBy(F.md5("doc_text"))
    docs = (docs.withColumn("is_canonical",
                            F.col("url") == F.min("url").over(w))
            .where(F.col("n_tokens") >= min_tokens))
    # the per-document table every later stage reads: the near-dup
    # stage fills it, the caller's job reads it back
    table = materialize(docs.withColumn(
        "sig", F.when(F.col("is_canonical"), F.col("sig"))))

    # near-dup verdict over the exact-canonical survivors: the
    # dedup_canonical gate row's code (LSH pairs -> connected
    # components -> the most tokens per component), so its DuckDB twin
    # covers this keep. A non-canonical row has no signature here, so
    # its cluster is its own (unique) url and its keep is false
    out = dedup.dedup_canonical_df(
        table.where("is_canonical").select(F.col("url").alias("doc_id"),
                                           "sig"),
        table.drop("sig").withColumnRenamed("url", "doc_id")
        .withColumn("n", F.col("n_tokens")))
    return (out.withColumnsRenamed({"doc_id": "url",
                                    "cluster_id": "near_dup_cluster"})
            .withColumn("keep", F.col("is_canonical") & F.col("keep"))
            .drop("n"))
