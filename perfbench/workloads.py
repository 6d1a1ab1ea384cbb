"""The four benchmark workloads.

Each workload makes its inputs from the seed (``setup``), then per rep
makes one public call (``build``, timed as ``build_s``) and drives it to
its sink (``sink``). Output digests are computed in the same pass
through an ``Observation`` (or, for the parquet sink, by reading the
written files after the rep), never by an extra timed job.

The digest of a set of rows is ``"<rows>-<sum crc32>-<sum md5[:8]>"``
over the rows' fields joined by ``\\x1f`` with nulls as ``\\N``: an
order-insensitive sum that Spark (``crc32``/``md5`` column functions)
and plain Python (``zlib``/``hashlib``) compute identically, so a
single-thread in-process reference can be checked against the
distributed result.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import pyarrow.dataset as pads
from pyspark.sql import Observation, functions as F

from perfbench import inputs

SEP = "\x1f"
NULL = "\\N"
SAMPLE_DOCS = 8  # docs re-extracted in-process as the reference
MIN_TOKENS = 30  # build_training_corpus default


def _field(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row_key(values) -> str:
    return SEP.join(_field(v) for v in values)


def digest_rows(rows) -> str:
    """Python twin of :func:`digest_aggs` over an iterable of tuples."""
    n = crc = md = 0
    for r in rows:
        b = row_key(r).encode("utf-8")
        n += 1
        crc += zlib.crc32(b)
        md += int(hashlib.md5(b).hexdigest()[:8], 16)
    return f"{n}-{crc}-{md}"


def _key_col(cols):
    return F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"),
                                         F.lit(NULL)) for c in cols])


def digest_aggs(cols, prefix="d", where=None):
    key = _key_col(cols)
    crc = F.crc32(key.cast("binary"))
    md = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    if where is not None:
        crc = F.when(where, crc).otherwise(F.lit(0))
        md = F.when(where, md).otherwise(F.lit(0))
        n = F.sum(F.when(where, 1).otherwise(0))
    else:
        n = F.count(F.lit(1))
    return [n.alias(prefix + "_n"), F.sum(crc).alias(prefix + "_crc"),
            F.sum(md).alias(prefix + "_md")]


def digest_of(obs_row: dict, prefix="d") -> str:
    return "-".join(str(int(obs_row[f"{prefix}_{k}"] or 0))
                    for k in ("n", "crc", "md"))


class RepOutcome:
    def __init__(self, attempted, failed, digest, problems=()):
        self.attempted = attempted
        self.failed = failed
        self.digest = digest
        self.problems = list(problems)


class Workload:
    name = ""
    docs_n = 0
    kernel_docs = 0  # docs entering the extraction map once each
    checks_split = True  # main stage must run >= N tasks
    #: untimed reps before timing. 0 where one-off plan compilation is
    #: what every run of the job pays (curate, train_corpus); 1 for the
    #: extraction map, which at scale runs long past JVM warm-up
    warm_reps = 0

    def __init__(self, ctx, scale: float, subdir: str):
        self.ctx = ctx
        self.scale = scale
        self.dir = os.path.join(ctx.work, subdir)
        self.obs = None

    def size(self, n: int) -> int:
        # >= 48: curate's decontamination holds out doc_id < 40
        return max(48, int(n * self.scale))

    @property
    def spark(self):
        return self.ctx.spark

    def path(self, name):
        return os.path.join(self.dir, name)

    def observed(self, df, tag, aggs):
        self.obs = Observation(f"perfbench_{self.name}_{tag}")
        return df.observe(self.obs, *aggs)

    def noop(self, df):
        df.write.format("noop").mode("overwrite").save()

    def reference_problems(self, digests):
        """Untimed whole-output check after the timed reps."""
        return []

    def layout_blobs(self, limit):
        return []

    def html_blobs(self, limit):
        return []


def _read_pages(path, urls=None, columns=("url", "html")):
    ds = pads.dataset(path, format="parquet")
    flt = pads.field("url").isin(list(urls)) if urls is not None else None
    return ds.to_table(columns=list(columns), filter=flt).to_pylist()


def _spaced(items, k):
    """``k`` items spread evenly over the sorted ``items``."""
    items = sorted(items)
    step = max(1, len(items) // k)
    return items[::step][:k]


def _reference_rows(pages):
    """Single-thread in-process extraction of ``pages`` rows."""
    from parsee_pdf_reader_spark.kernel.engine import extract_document

    out = []
    for p in pages:
        for pg in extract_document(bytes(p["html"])):
            out.append((p["url"], pg["page_index"], pg["extracted_text"]))
    return out


class Extract(Workload):
    """The production job over a mixed corpus: PLD2 layout docs and real
    Flate-compressed %PDF docs -> run_extraction -> zstd parquet."""

    name = "extract"
    docs_n = 500
    warm_reps = 1

    def setup(self):
        docs = inputs.make_documents(self.ctx.seed, self.size(self.docs_n))
        self.n_docs = self.kernel_docs = len(docs)
        inputs.write_mixed_pages(self.spark, docs, self.path("pages"),
                                 self.ctx.seed, self.ctx.cores)
        urls = [r["url"] for r in _read_pages(self.path("pages"),
                                              columns=("url",))]
        self.sample = _spaced(urls, SAMPLE_DOCS)
        self.ref_digest = digest_rows(_reference_rows(
            _read_pages(self.path("pages"), self.sample)))

    def layout_blobs(self, limit):
        rows = {r["url"]: r["html"] for r in _read_pages(self.path("pages"))}
        return [bytes(rows[u]) for u in _spaced(rows, limit)]

    def build(self, tag):
        from parsee_pdf_reader_spark.pipeline import run_extraction

        self.stats = {}
        return run_extraction(self.spark, self.path("pages"),
                              self.path("out"), stats=self.stats)

    def sink(self, df, tag):
        """run_extraction writes its sink before returning."""

    def check(self, tag):
        rows = pads.dataset(self.path("out"), format="parquet",
                            partitioning="hive").to_table(
            columns=["url", "page_index", "extracted_text", "error"]
        ).to_pylist()
        problems = []
        sample = set(self.sample)
        key = [(r["url"], r["page_index"], r["extracted_text"])
               for r in rows]
        if digest_rows(k for k in key if k[0] in sample) != self.ref_digest:
            problems.append("sampled docs differ from in-process kernel")
        errors = sum(r["error"] is not None for r in rows)
        missing = self.n_docs - len({r["url"] for r in rows})
        if errors or missing:
            problems.append(f"{errors} error rows, {missing} docs missing")
        if self.stats.get("rows_written") != len(rows):
            problems.append("rows_written disagrees with the sink")
        return RepOutcome(self.n_docs, self.n_docs if problems else 0,
                          digest_rows(key), problems)

    def sink_bytes(self):
        total = 0
        for base, _dirs, files in os.walk(self.path("out")):
            total += sum(os.path.getsize(os.path.join(base, f))
                         for f in files if f.endswith(".parquet"))
        return total


CURATE_COLS = ("doc_id", "dedup_keep", "quality_ok", "lang_ok", "len_ok",
               "boiler_ok", "dup_ok", "lm_ok", "contam_ok", "sampled", "keep")


class Curate(Workload):
    """corpus_keep_filter over the documents table -> noop sink."""

    name = "curate"
    docs_n = 600
    checks_split = False

    def setup(self):
        docs = inputs.make_documents(self.ctx.seed, self.size(self.docs_n))
        inputs.write_documents(self.spark, docs,
                               self.path("documents.parquet"),
                               self.ctx.cores)
        self.n_docs = len(docs)

    def build(self, tag):
        from parsee_pdf_reader_spark.operators.curation import (
            q_corpus_keep_filter,
        )

        return q_corpus_keep_filter(self.spark, self.dir)

    def sink(self, df, tag):
        self.noop(self.observed(df, tag, digest_aggs(CURATE_COLS)))

    def reference_problems(self, digests):
        """The DuckDB twin of corpus_keep_filter over the same files."""
        import duckdb

        from parsee_pdf_reader_spark.operators.curation import (
            q_corpus_keep_filter,  # noqa: F401  (registers the twin)
        )
        from parsee_pdf_reader_spark.plans.queries import REGISTRY

        con = duckdb.connect()
        try:
            con.execute(f"set threads to {self.ctx.cores}")
            con.execute("create view documents as select * from "
                        f"read_parquet('{self.path('documents.parquet')}/*.parquet')")
            rows = con.execute(
                f"select {', '.join(CURATE_COLS)} from "
                f"({REGISTRY['corpus_keep_filter'][1]})").fetchall()
        finally:
            con.close()
        ref = digest_rows(rows)
        return [] if digests == {ref} else [f"DuckDB twin digest is {ref}"]

    def check(self, tag):
        m = self.obs.get
        missing = abs(self.n_docs - int(m["d_n"] or 0))
        problems = [f"{missing} docs missing"] if missing else []
        return RepOutcome(self.n_docs, self.n_docs if problems else 0,
                          digest_of(m), problems)


class TrainCorpus(Workload):
    """build_training_corpus over a mixed crawl -> noop sink."""

    name = "train_corpus"
    docs_n = 100

    def __init__(self, *args):
        super().__init__(*args)
        self.outcomes = []

    def setup(self):
        docs = inputs.make_documents(self.ctx.seed, self.size(self.docs_n))
        pages, self.facts = inputs.train_pages(self.ctx.seed, docs)
        inputs.write_train_pages(self.spark, pages, self.path("pages"),
                                 self.ctx.cores)
        self.n_docs = len(pages)
        self.kernel_docs = self.facts["n_layout_urls"]
        self._pages = pages

    def expected_urls(self):
        """Urls a single-thread in-process run keeps: the latest snapshot
        of each url, extracted, with at least ``min_tokens`` tokens."""
        from parsee_pdf_reader_spark.kernel.engine import extract_document
        from parsee_pdf_reader_spark.operators.html_extract import (
            extract_html_document,
        )

        latest = self._pages.sort_values(["warc_ts", "url"]).drop_duplicates(
            "url", keep="last")
        keep = []
        for url, blob in zip(latest["url"], latest["html"]):
            blob = bytes(blob)
            if blob[:3] == b"PLD":
                text = "\n\n".join(p["extracted_text"]
                                    for p in extract_document(blob))
            else:
                text = extract_html_document(blob)["main_text"]
            if len(text.split()) >= MIN_TOKENS:
                keep.append((url,))
        return digest_rows(keep)

    def reference_problems(self, digests):
        want = self.expected_urls()
        got = {r.url_digest for r in self.outcomes}
        return [] if got == {want} else [
            f"kept urls {sorted(got)} differ from in-process {want}"]

    def layout_blobs(self, limit):
        return [bytes(b) for b in self._pages["html"]
                if bytes(b[:3]) == b"PLD"][:limit]

    def html_blobs(self, limit):
        return [bytes(b) for b in self._pages["html"]
                if bytes(b[:1]) == b"<"][:limit]

    def build(self, tag):
        from parsee_pdf_reader_spark.pipeline import read_pages
        from parsee_pdf_reader_spark.training_pipeline import (
            build_training_corpus,
        )

        return build_training_corpus(read_pages(self.spark,
                                                self.path("pages")))

    def sink(self, df, tag):
        pairs = self.facts["near_pairs"]
        a = F.col("url").isin([p[0] for p in pairs])
        b = F.col("url").isin([p[1] for p in pairs])
        cluster = F.crc32(F.col("near_dup_cluster").cast("binary"))
        aggs = (digest_aggs(("url", "keep", "near_dup_cluster"))
                + digest_aggs(("url",), "u")) + [
            F.sum(F.when(a, cluster).otherwise(0)).alias("a_cluster"),
            F.sum(F.when(b, cluster).otherwise(0)).alias("b_cluster"),
            F.sum((F.col("keep") & (a | b)).cast("long")).alias("pair_keeps"),
        ]
        self.noop(self.observed(df, tag, aggs))

    def check(self, tag):
        m = self.obs.get
        problems = []
        if m["a_cluster"] != m["b_cluster"]:
            problems.append("planted near-duplicates not clustered")
        if int(m["pair_keeps"] or 0) > len(self.facts["near_pairs"]):
            problems.append("both docs of a near-duplicate pair kept")
        out = RepOutcome(self.n_docs, self.n_docs if problems else 0,
                         digest_of(m), problems)
        out.url_digest = digest_of(m, "u")
        self.outcomes.append(out)
        return out


WORKLOADS = {w.name: w for w in (Extract, Curate, TrainCorpus)}
