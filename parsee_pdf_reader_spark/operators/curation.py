"""Corpus curation verdict: the one query a pretraining pipeline
actually ships — language allowlist, quality floor, length bounds, and
the near-dup canonical keep, composed into a single per-document
``keep`` boolean (plus the per-criterion flags so rejected docs are
explainable).

The composition REUSES the registered operators — the Spark side calls
`q_dedup_canonical` / `q_doc_quality_scores`, and the DuckDB twin
embeds their registered SQL as subqueries — so the curation verdict
can never drift from the operators it is built on.

Scale: the documents table is read and tokenized once per call into
ONE stored DataFrame that every component receives (each ``q_*``
wrapper takes it as ``docs``): its ``toks`` column is the one
whitespace tokenization every component reads. Per-document work runs
once per call — the MinHash signatures, the LSH pair table and the LM
bigram and score tables are each stored once and read by all their
consumers.
quality/lang/length/sample are pure projections; the shuffles are the
components' own (band join, connected-components rounds,
sentence/gram/bigram counts) plus doc_id equi-joins that share
partitioning. No new hot keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parsee_pdf_reader_spark.operators.dedup import (
    q_dedup_canonical,
    q_dup_span_stats,
)
from parsee_pdf_reader_spark.operators.textstats import (
    q_doc_quality_scores,
    q_lm_ppl_buckets,
    q_sentence_boilerplate,
)
from parsee_pdf_reader_spark.plans.queries import (
    LOWER_TOKENS_SQL,
    REGISTRY,
    documents,
    materialize,
    register,
)

_LANGS = ("en", "de", "fr", "es")  # zh excluded at these thresholds
_LEN_LO = 100
_LEN_HI = 500
_BOILER_MAX_FRAC = 0.3  # C4-style: reject docs dominated by dup lines
_DUPSPAN_MAX_FRAC = 0.5  # Lee et al.: reject docs mostly made of
#                          corpus-repeated 16-token spans (gate corpus:
#                          bimodal at ~0 / ~1, 41-45/500 rejected —
#                          exercised, not saturated)

_LANG_SQL = ", ".join(f"'{x}'" for x in _LANGS)


def _twin(name: str) -> str:
    """Registered DuckDB oracle SQL of another operator, embedded as a
    subquery (DuckDB accepts WITH-queries inside FROM)."""
    return REGISTRY[name][1]


@register(
    "corpus_keep_filter",
    None,  # replaced below — needs the r5 operators' registered SQL
)
def q_corpus_keep_filter(spark, sf_dir):
    """The shipped curation verdict (VERDICT r5 item 2): dedup +
    quality + language + length + boilerplate + decontamination +
    sampling, composed per document with every criterion kept as its
    own flag so a rejected doc is explainable.

    Per-criterion semantics:

    - ``boiler_ok``: duplicated-sentence fraction (C4 line-dedup
      signal) at most {BF}; docs with no sentence rows coalesce to 0.
    - ``dup_ok``: corpus-repeated-span coverage (Lee et al. 16-gram
      signal, ``dup_span_stats``) at most {DF} of the doc's tokens —
      catches partial-overlap templating the document-level near-dup
      canonical can't see.
    - ``lm_ok``: not in the CCNet perplexity TAIL (``lm_ppl_buckets``
      — quantile thirds over the corpus-trained bigram LM score;
      CCNet keeps head+middle, Wenzek et al. 2020 §4.3).
    - ``contam_ok``: NOT flagged by benchmark decontamination — and
      the held-out suite itself (the gate's ``doc_id < 40`` slice,
      which has no decontam row) is never shipped as training data,
      so its missing row coalesces to False.
    - ``sampled``: the deterministic per-language downsampling draw.

    The documents are read and split into whitespace tokens once, into
    one stored frame with a ``toks`` column that every component reads
    (pinned by ``test_hof_expressions_evaluated_once_per_row``).

    Scale: doc_id equi-joins over operators whose shapes are already
    scale-audited (boilerplate: agg + shuffle_hash join-back; span
    coverage: one gram-hash count window; LM bucket: the per-call
    stored score table + histogram window; decontam: broadcast bench
    + combinable agg; sample: zero-shuffle projection); all joins
    share the doc_id partitioning. No new hot keys.

    Building the frame runs Spark jobs: the connected-components
    rounds checkpoint eagerly, and under AQE each stored relation
    runs the shuffle stages beneath it when it is stored (15 jobs on
    the sf0.001 table, pinned by
    ``test_corpus_keep_filter_build_time_jobs``)."""
    # read and tokenized once: every component reads these stored rows
    docs = materialize(documents(spark, sf_dir).select(
        "doc_id", "text", "toks", "lang", "n_chars"))
    canon = q_dedup_canonical(spark, sf_dir, docs).select(
        "doc_id", F.col("keep").alias("dedup_keep"))
    qual = q_doc_quality_scores(spark, sf_dir, docs).select(
        "doc_id", (F.col("quality_bucket") != "low").alias("quality_ok"))
    boiler = q_sentence_boilerplate(spark, sf_dir, docs).select(
        "doc_id", "boiler_frac")
    spans = q_dup_span_stats(spark, sf_dir, docs).select(
        "doc_id", "dup_frac")
    lm = q_lm_ppl_buckets(spark, sf_dir, docs).select(
        "doc_id", (F.col("ppl_bucket") != "tail").alias("lm_ok"))
    contam = q_decontam_ngram_overlap(spark, sf_dir, docs).select(
        "doc_id", "contaminated")
    samp = q_corpus_sample(spark, sf_dir, docs).select(
        "doc_id", "sampled")
    lang_ok = F.col("lang").isin(*_LANGS)
    len_ok = (F.col("n_chars") >= _LEN_LO) & (F.col("n_chars") <= _LEN_HI)
    boiler_ok = (F.coalesce(F.col("boiler_frac"), F.lit(0.0))
                 <= _BOILER_MAX_FRAC)
    dup_ok = F.col("dup_frac") <= _DUPSPAN_MAX_FRAC
    contam_ok = F.coalesce(~F.col("contaminated"), F.lit(False))
    return (docs.select("doc_id", "lang", "n_chars")
            .join(canon, "doc_id").join(qual, "doc_id")
            .join(boiler, "doc_id", "left")
            .join(spans, "doc_id")
            .join(lm, "doc_id")
            .join(contam, "doc_id", "left")
            .join(samp, "doc_id")
            .select(
                "doc_id", "dedup_keep", "quality_ok",
                lang_ok.alias("lang_ok"), len_ok.alias("len_ok"),
                boiler_ok.alias("boiler_ok"),
                dup_ok.alias("dup_ok"),
                "lm_ok",
                contam_ok.alias("contam_ok"),
                "sampled",
                (F.col("dedup_keep") & F.col("quality_ok")
                 & lang_ok & len_ok & boiler_ok & dup_ok
                 & F.col("lm_ok") & contam_ok
                 & F.col("sampled")).alias("keep")))


def _keep_filter_sql() -> str:
    return f"""
    select d.doc_id,
           c.keep as dedup_keep,
           (q.quality_bucket <> 'low') as quality_ok,
           (d.lang in ({_LANG_SQL})) as lang_ok,
           (d.n_chars between {_LEN_LO} and {_LEN_HI}) as len_ok,
           (coalesce(b.boiler_frac, 0) <= {_BOILER_MAX_FRAC})
               as boiler_ok,
           (p.dup_frac <= {_DUPSPAN_MAX_FRAC}) as dup_ok,
           (l.ppl_bucket <> 'tail') as lm_ok,
           coalesce(not x.contaminated, false) as contam_ok,
           s.sampled as sampled,
           (c.keep and q.quality_bucket <> 'low'
            and d.lang in ({_LANG_SQL})
            and d.n_chars between {_LEN_LO} and {_LEN_HI}
            and coalesce(b.boiler_frac, 0) <= {_BOILER_MAX_FRAC}
            and p.dup_frac <= {_DUPSPAN_MAX_FRAC}
            and l.ppl_bucket <> 'tail'
            and coalesce(not x.contaminated, false)
            and s.sampled) as keep
    from documents d
    join ({_twin('dedup_canonical')}) c on c.doc_id = d.doc_id
    join ({_twin('doc_quality_scores')}) q on q.doc_id = d.doc_id
    left join ({_twin('sentence_boilerplate')}) b on b.doc_id = d.doc_id
    join ({_twin('dup_span_stats')}) p on p.doc_id = d.doc_id
    join ({_twin('lm_ppl_buckets')}) l on l.doc_id = d.doc_id
    left join ({_twin('decontam_ngram_overlap')}) x on x.doc_id = d.doc_id
    join ({_twin('corpus_sample')}) s on s.doc_id = d.doc_id
    """


# ---------------------------------------------------------------------------
# deterministic stratified sampling (r5): downsample dominant languages
# to a target mix without any RNG state — the sampling decision is a
# pure function of doc_id, so re-runs, retries, and different
# partitionings all select the SAME sample (a property rand() cannot
# give a distributed job), and the twin engines agree bit-for-bit.
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.5, "de": 0.35}
_SAMPLE_DEFAULT = 0.2
_HEXD = "0123456789abcdef"

# u = integer value of the first 8 hex digits of md5(doc_id) — a
# uniform draw in [0, 2^32); keep iff u < rate * 2^32
_RATE_CASE_SQL = "case " + " ".join(
    f"when lang = '{k}' then {v}" for k, v in _SAMPLE_RATES.items()
) + f" else {_SAMPLE_DEFAULT} end"
_THRESH_CASE_SQL = "case " + " ".join(
    f"when lang = '{k}' then {int(v * (1 << 32))}"
    for k, v in _SAMPLE_RATES.items()
) + f" else {int(_SAMPLE_DEFAULT * (1 << 32))} end"
_U32_SQL = f"""
    cast(list_sum(list_transform(range(8), i ->
      (instr('{_HEXD}', substr(md5(cast(doc_id as varchar)),
                               i + 1, 1)) - 1)
      * cast(power(16, 7 - i) as bigint))) as bigint)
"""


@register(
    "corpus_sample",
    f"""
    select doc_id, lang,
           {_RATE_CASE_SQL} as sample_rate,
           ({_U32_SQL} < {_THRESH_CASE_SQL}) as sampled
    from documents
    """,
)
def q_corpus_sample(spark, sf_dir, docs=None):
    """Gate row of :func:`corpus_sample_df`."""
    return corpus_sample_df(documents(spark, sf_dir, docs))


def corpus_sample_df(docs):
    """Deterministic per-language sampling plan: every doc gets a
    uniform u32 draw derived from md5(doc_id) and a per-language keep
    rate; ``sampled`` marks the survivors. Emitting the PLAN (flag,
    not a filter) keeps the decision auditable and lets downstream
    stages union strata at different rates.

    Scale: pure projection — zero shuffles at any corpus size; the
    hash draw is reproducible under retries/repartitioning, unlike
    ``rand()`` whose per-task seeds change with the physical plan."""
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long")
    rate = F.lit(_SAMPLE_DEFAULT)
    thresh = F.lit(int(_SAMPLE_DEFAULT * (1 << 32)))
    for k, v in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
        thresh = F.when(F.col("lang") == k,
                        F.lit(int(v * (1 << 32)))).otherwise(thresh)
    return docs.select("doc_id", "lang", rate.alias("sample_rate"),
                       (u < thresh).alias("sampled"))


# ---------------------------------------------------------------------------
# benchmark decontamination (r5): flag training docs that overlap a
# held-out evaluation set by shared word shingles — the step every
# serious pretraining pipeline runs so eval numbers aren't inflated by
# memorized test data (the GPT-3/Gopher 13-gram decontamination shape,
# here on the corpus's canonical 3-gram shingle unit).
# ---------------------------------------------------------------------------

_BENCH_MAX_ID = 40       # held-out set: doc_id < 40 (deterministic)
_DECON_N = 8             # 8-gram shingles: 3-grams trip on templated
                         # boilerplate (175/460 flagged on this corpus
                         # vs 3/460 at 8 — measured); GPT-3/Gopher use 13
_DECON_MIN_HITS = 5      # absolute shingle-overlap trigger
_DECON_FRAC = 0.2        # or >=20% of the doc's shingles


def decontam_against(train_df, bench_df, n: int = _DECON_N,
                     min_hits: int = _DECON_MIN_HITS,
                     frac: float = _DECON_FRAC):
    """Production decontamination API (VERDICT r5 item 4): flag every
    training document whose word-``n``-gram shingles overlap the
    held-out benchmark suite. ``train_df`` and ``bench_df`` are any
    two DataFrames with (doc_id, toks) columns (``toks`` as
    ``documents`` returns it) — the benchmark side is a genuinely
    separate table in production, not a doc_id slice of the corpus.

    Scale: the benchmark side is a FIXED small suite (thousands of
    docs, ~10^5 distinct shingles at 100 TB too) -> distinct then
    broadcast to the corpus scan; the corpus side is one explode + one
    broadcast-hash semi-count + one groupBy(doc_id) (combinable,
    high-cardinality key). No self-join, no shuffle of the corpus
    shingle explosion beyond the doc_id agg."""
    from parsee_pdf_reader_spark.operators.dedup import shingles_col

    sh = shingles_col(F.col("toks"), n)
    bench = bench_df.select(F.explode(sh).alias("sh")).distinct()
    cand = train_df.select("doc_id", F.explode(sh).alias("sh"))
    hits = (cand.join(F.broadcast(bench), "sh")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    sizes = train_df.select("doc_id", F.size(sh).alias("n_shingles"))
    n_ov = F.coalesce(F.col("n_overlap"), F.lit(0))
    fr = n_ov / F.col("n_shingles").cast("double")
    return (sizes.join(hits, "doc_id", "left")
            .select("doc_id", "n_shingles", n_ov.alias("n_overlap"),
                    F.round(fr, 6).alias("overlap_frac"),
                    ((n_ov >= min_hits)
                     | (fr >= frac)).alias("contaminated")))


@register(
    "decontam_ngram_overlap",
    None,  # replaced below — needs dedup's shingle SQL
)
def q_decontam_ngram_overlap(spark, sf_dir, docs=None):
    """Gate instantiation of :func:`decontam_against`: the held-out
    suite is the deterministic ``doc_id < {B}`` slice of the documents
    table (the driver needs a self-contained oracle); production
    passes the real benchmark table as ``bench_df``."""
    docs = documents(spark, sf_dir, docs)
    bench = docs.where(F.col("doc_id") < _BENCH_MAX_ID)
    train = docs.where(F.col("doc_id") >= _BENCH_MAX_ID)
    return decontam_against(train, bench)


def _decontam_sql() -> str:
    from parsee_pdf_reader_spark.operators.dedup import _shingles_sql

    _SHINGLES_SQL = _shingles_sql(_DECON_N)
    return f"""
    with bench as (
      select distinct unnest({_SHINGLES_SQL}) as sh
      from documents where doc_id < {_BENCH_MAX_ID}
    ),
    cand as (
      select doc_id, unnest({_SHINGLES_SQL}) as sh
      from documents where doc_id >= {_BENCH_MAX_ID}
    ),
    hits as (
      select c.doc_id, count(*) as n_overlap
      from cand c join bench b using (sh)
      group by c.doc_id
    ),
    sizes as (
      select doc_id, len({_SHINGLES_SQL}) as n_shingles
      from documents where doc_id >= {_BENCH_MAX_ID}
    )
    select s.doc_id, s.n_shingles,
           coalesce(h.n_overlap, 0) as n_overlap,
           round(coalesce(h.n_overlap, 0)
                 / cast(s.n_shingles as double), 6) as overlap_frac,
           (coalesce(h.n_overlap, 0) >= {_DECON_MIN_HITS}
            or coalesce(h.n_overlap, 0)
               / cast(s.n_shingles as double) >= {_DECON_FRAC})
               as contaminated
    from sizes s left join hits h on h.doc_id = s.doc_id
    """


REGISTRY["decontam_ngram_overlap"] = (
    q_decontam_ngram_overlap, _decontam_sql())

# corpus_keep_filter's twin embeds the registered SQL of every
# component it composes, two of which (sentence_boilerplate via the
# textstats import, decontam above) only exist once this module is
# fully loaded — so the twin is materialized last. The REGISTRY dict
# keeps the original insertion position (value reassignment does not
# reorder), so the driver-gate query order is unchanged.
REGISTRY["corpus_keep_filter"] = (
    q_corpus_keep_filter, _keep_filter_sql())


# ---------------------------------------------------------------------------
# data-mixture rebalance planning: derive the per-stratum sampling
# rates that corpus_sample consumes, from a target mix + token budget
# ---------------------------------------------------------------------------

#: target language mix (normalized weights) and the token budget as a
#: fraction of the corpus — the knobs a pretraining run publishes next
#: to its source-mix report.
_MIX_TARGET = {"en": 0.40, "de": 0.20, "fr": 0.20, "es": 0.15,
               "zh": 0.05}
_MIX_DEFAULT_W = 0.05
_MIX_BUDGET_FRAC = 0.5

_MIX_W_SQL = "case " + " ".join(
    f"when lang = '{k}' then {v}" for k, v in _MIX_TARGET.items()
) + f" else {_MIX_DEFAULT_W} end"


@register(
    "mix_rebalance_plan",
    f"""
    with agg as (
      select lang, cast(sum(len({{TOKS}})) as bigint) as lang_tokens
      from documents group by lang
    ),
    tot as (select cast(sum(len({{TOKS}})) as double) as total
            from documents),
    rated as (
      select a.lang, a.lang_tokens,
             {_MIX_W_SQL} as target_share,
             least(1.0, ({_MIX_W_SQL}) * t.total * {_MIX_BUDGET_FRAC}
                        / a.lang_tokens) as rate_raw
      from agg a cross join tot t
    ),
    planned as (
      select lang, lang_tokens, target_share,
             round(rate_raw, 6) as rate,
             cast(floor(round(rate_raw, 6) * lang_tokens) as bigint)
                 as expected_tokens
      from rated
    )
    select lang, lang_tokens, target_share, rate, expected_tokens,
           round(expected_tokens
                 / sum(expected_tokens) over (), 6) as realized_share
    from planned
    """.replace("{TOKS}", LOWER_TOKENS_SQL),
)
def q_mix_rebalance_plan(spark, sf_dir):
    """Derive per-language sampling rates from a target mix + token
    budget: rate = min(1, weight * budget / stratum_tokens). An
    undersupplied stratum caps at 1.0 (you cannot sample more than
    exists) and the realized share re-normalizes over the planned
    token counts — the report shows exactly how far the achievable
    mix is from the target. These rates are what ``corpus_sample``'s
    per-language thresholds are tuned from.

    Scale: one combinable groupBy(lang) over the documents scan, the
    corpus total as a one-row broadcast cross join (tfidf r4 shape),
    and the share window runs over ~#languages aggregated rows — the
    corpus_token_budget shape, never the corpus."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    n_toks = F.size("toks")
    agg = (docs.groupBy("lang")
           .agg(F.sum(n_toks).cast("long").alias("lang_tokens")))
    tot = docs.agg(F.sum(n_toks).cast("double").alias("total"))
    w = F.lit(_MIX_DEFAULT_W)
    for k, v in _MIX_TARGET.items():
        w = F.when(F.col("lang") == k, F.lit(v)).otherwise(w)
    rate_raw = F.least(
        F.lit(1.0),
        w * F.col("total") * _MIX_BUDGET_FRAC / F.col("lang_tokens"))
    rate = F.round(rate_raw, 6)
    expected = F.floor(rate * F.col("lang_tokens")).cast("bigint")
    planned = (agg.crossJoin(F.broadcast(tot))
               .select("lang", "lang_tokens",
                       w.alias("target_share"), rate.alias("rate"),
                       expected.alias("expected_tokens")))
    share = (F.col("expected_tokens")
             / F.sum("expected_tokens").over(
                 Window.rowsBetween(Window.unboundedPreceding,
                                    Window.unboundedFollowing)))
    return planned.select("lang", "lang_tokens", "target_share",
                          "rate", "expected_tokens",
                          F.round(share, 6).alias("realized_share"))
