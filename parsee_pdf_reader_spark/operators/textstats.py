"""Text-analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All pure projections (plus one window for fingerprint clusters): at
10^12 rows these run entirely inside whole-stage codegen with zero
shuffles, which is the only shape that survives that scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parsee_pdf_reader_spark.plans.queries import (
    LOWER_TOKENS_SQL,
    _t,
    _ts,
    documents,
    materialize,
    register,
    tokens,
)

_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "it", "as"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu",
           "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une",
           "dans"],
    "es": ["el", "los", "y", "es", "no", "con", "una", "para", "por",
           "como"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]


def _sw_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"len(list_filter({LOWER_TOKENS_SQL}, x -> x in ({lst})))"


_LANG_CASE = f"""
    case
      when {_sw_sql('en')} >= {_sw_sql('de')}
       and {_sw_sql('en')} >= {_sw_sql('fr')}
       and {_sw_sql('en')} >= {_sw_sql('es')} then 'en'
      when {_sw_sql('de')} >= {_sw_sql('fr')}
       and {_sw_sql('de')} >= {_sw_sql('es')} then 'de'
      when {_sw_sql('fr')} >= {_sw_sql('es')} then 'fr'
      else 'es'
    end
"""


@register(
    "lang_id_heuristic",
    f"""
    select doc_id,
           {_LANG_CASE} as lang_pred,
           {_sw_sql('en')} + {_sw_sql('de')} + {_sw_sql('fr')}
             + {_sw_sql('es')} as stopword_hits,
           lang as lang_recorded
    from documents
    """,
)
def q_lang_id_heuristic(spark, sf_dir):
    """Stopword-count language ID with a fixed priority tie-break
    (en > de > fr > es)."""
    docs = documents(spark, sf_dir)
    toks = F.transform("toks", F.lower)

    # r7: bind the token array ONCE and emit the four per-language hit
    # counts through one inline(array(struct)) Generate boundary —
    # the old shape referenced each count up to 4x (tie-break chain +
    # total), and project collapse re-inlined the split+filter at
    # every reference (~16 tokenizations per row). Past the Generate
    # the counts are plain attributes, so the tie-break is free
    # codegen. Values and column names identical.
    def _hit(tk, words):
        return F.size(F.filter(tk, lambda x: x.isin(*words)))

    def hit_struct(tk):
        return F.struct(*[
            _hit(tk, _STOPWORDS[lang]).alias(f"h_{lang}")
            for lang in _LANG_ORDER])

    bound = F.element_at(F.transform(F.array(toks), hit_struct), 1)
    staged = docs.select("doc_id", "lang", F.inline(F.array(bound)))
    h = {lang: F.col(f"h_{lang}") for lang in _LANG_ORDER}
    pred = (
        F.when((h["en"] >= h["de"]) & (h["en"] >= h["fr"])
               & (h["en"] >= h["es"]), "en")
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when(h["fr"] >= h["es"], "fr")
        .otherwise("es")
    )
    return staged.select(
        "doc_id",
        pred.alias("lang_pred"),
        (h["en"] + h["de"] + h["fr"] + h["es"]).alias("stopword_hits"),
        F.col("lang").alias("lang_recorded"),
    )


@register(
    "doc_quality_scores",
    f"""
    select doc_id,
           len({LOWER_TOKENS_SQL}) as n_tokens,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                 / greatest(length(text), 1), 6) as alpha_ratio,
           round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 / greatest(length(text), 1), 6) as punct_ratio,
           round({_sw_sql('en')} / greatest(len({LOWER_TOKENS_SQL}), 1), 6)
               as stopword_ratio,
           round(length(replace(text, ' ', ''))
                 / greatest(len({LOWER_TOKENS_SQL}), 1), 4) as mean_token_len,
           case when len({LOWER_TOKENS_SQL}) >= 50
                 and {_sw_sql('en')} / greatest(len({LOWER_TOKENS_SQL}), 1) > 0.02
                then 'high'
                when len({LOWER_TOKENS_SQL}) >= 20 then 'medium'
                else 'low' end as quality_bucket
    from documents
    """,
)
def q_doc_quality_scores(spark, sf_dir, docs=None):
    """Gate row of :func:`doc_quality_scores_df`."""
    return doc_quality_scores_df(documents(spark, sf_dir, docs))


def doc_quality_scores_df(docs):
    """Length/punctuation/stopword quality features (the usual pretrain
    filtering signals) as one pure projection. ``docs`` carries
    ``text`` and ``toks``, as ``documents`` returns."""
    toks = F.transform("toks", F.lower)
    # r7: one tokenization per row — (n_tokens, stopword hits) emitted
    # through an inline(array(struct)) boundary; the old shape
    # re-inlined the split+filter at every n_tokens/sw reference
    # (~8x per row). Ratios/bucket then read plain attributes.
    bound = F.element_at(F.transform(F.array(toks), lambda tk: F.struct(
        F.size(tk).alias("_nt"),
        F.size(F.filter(tk, lambda x: x.isin(*_STOPWORDS["en"])))
        .alias("_sw"))), 1)
    staged = docs.select("doc_id", "text", F.inline(F.array(bound)))
    n_tokens = F.col("_nt")
    sw = F.col("_sw")
    text_len = F.greatest(F.length("text"), F.lit(1))
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / text_len
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")) \
        / text_len
    sw_ratio = sw / F.greatest(n_tokens, F.lit(1))
    mean_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) \
        / F.greatest(n_tokens, F.lit(1))
    bucket = (
        F.when((n_tokens >= 50) & (sw_ratio > 0.02), "high")
        .when(n_tokens >= 20, "medium")
        .otherwise("low")
    )
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(mean_len, 4).alias("mean_token_len"),
        bucket.alias("quality_bucket"),
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@register(
    "token_counts",
    f"""
    select doc_id,
           len({LOWER_TOKENS_SQL}) as ws_tokens,
           len(regexp_extract_all(text, '{_BPE_PATTERN}')) as bpe_tokens,
           round(len(regexp_extract_all(text, '{_BPE_PATTERN}'))
                 / greatest(len({LOWER_TOKENS_SQL}), 1), 4) as bpe_per_word
    from documents
    """,
)
def q_token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish regex token counts (training-budget
    estimation surface). Each count is projected once and the ratio
    reads the projected columns: written inline, it would split and
    regex-scan the text a second time."""
    docs = documents(spark, sf_dir)
    counts = docs.select(
        "doc_id",
        F.size("toks").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0))
        .alias("bpe_tokens"),
    )
    return counts.select(
        "*",
        F.round(F.col("bpe_tokens") / F.greatest("ws_tokens", F.lit(1)), 4)
        .alias("bpe_per_word"),
    )


@register(
    "doc_fingerprint",
    """
    select doc_id, fp,
           count(*) over (partition by fp) as fp_cluster_size
    from (
      select doc_id,
             case when length(text) < 8 then md5(text)
                  else list_min(list_transform(
                         range(length(text) - 7),
                         i -> md5(substr(text, i + 1, 8))))
             end as fp
      from documents) t
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Winnowing-style fingerprint: min md5 over all 8-char shingles
    (robust to local edits), plus fingerprint-cluster sizes."""
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents")
    fp = F.when(F.length("text") < 8, F.md5("text")).otherwise(
        F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.length("text") - 8),
                lambda i: F.md5(F.substring(F.col("text"), i + 1, 8)),
            )
        )
    )
    base = docs.select("doc_id", fp.alias("fp"))
    w = Window.partitionBy("fp")
    return base.select(
        "doc_id", "fp", F.count(F.lit(1)).over(w).alias("fp_cluster_size"))


@register(
    "doc_fingerprint_cdc",
    """
    select doc_id, fp,
           count(*) over (partition by fp) as fp_cluster_size
    from (
      select doc_id,
             case when length(text) < 8 then md5(text)
                  else coalesce(
                    list_min(list_transform(
                      list_filter(range(length(text) - 7),
                        i -> (ascii(substr(text, i + 1, 1)) % 4) = 0),
                      i -> md5(substr(text, i + 1, 8)))),
                    md5(text))
             end as fp
      from documents) t
    """,
)
def q_doc_fingerprint_cdc(spark, sf_dir):
    """Content-defined-anchor winnowing: md5 only the 8-char shingles
    whose FIRST character's code point is ≡0 mod 4 (~1/4 of positions),
    then take the min — the expensive hash runs 4x less often at
    100 TB. Unlike a positional stride (every 4th offset), the anchor
    is a property of the CONTENT, so a local edit leaves every anchored
    shingle outside the edit window intact and the fingerprint keeps
    the original's edit-robustness (tests/test_operators.py::
    test_fingerprint_edit_robustness)."""
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents")
    col = F.col("text")
    anchored = F.filter(
        F.sequence(F.lit(0), F.length(col) - 8),
        lambda i: F.ascii(F.substring(col, i + 1, 1)) % 4 == 0,
    )
    fp = F.when(F.length(col) < 8, F.md5(col)).otherwise(
        F.coalesce(
            F.array_min(
                F.transform(anchored,
                            lambda i: F.md5(F.substring(col, i + 1, 8)))),
            F.md5(col),
        )
    )
    base = docs.select("doc_id", fp.alias("fp"))
    w = Window.partitionBy("fp")
    return base.select(
        "doc_id", "fp", F.count(F.lit(1)).over(w).alias("fp_cluster_size"))


@register(
    "corpus_length_quantiles",
    """
    select lang, max(n) as n_docs,
           cast(sum(n_chars) as bigint) as total_chars,
           max(case when rn = cast(ceil(0.5 * n) as bigint)
               then n_chars end) as p50_chars,
           max(case when rn = cast(ceil(0.9 * n) as bigint)
               then n_chars end) as p90_chars
    from (
      select lang, n_chars,
             row_number() over (partition by lang
                                order by n_chars, doc_id) as rn,
             count(*) over (partition by lang) as n
      from documents) t
    group by lang
    """,
)
def q_corpus_length_quantiles(spark, sf_dir):
    """Exact per-language length quantiles via rank positions (the
    corpus-diagnostics surface for training-budget planning). The
    discrete quantile (value at position ceil(p*n) in (n_chars,
    doc_id) order) is chosen so BOTH engines compute the identical
    answer — interpolating percentile functions differ across engines.

    Scale (VERDICT r3 item 1): the r3 shape ranked every DOCUMENT in a
    per-lang ordered window — one task sorting a whole language
    (~10^11+ rows for English at 10^12 docs). Now the quantile is read
    off a histogram: groupBy(lang, n_chars).count() first (map-side
    combinable; result is ~langs x distinct-lengths rows, i.e. tiny),
    then the ordered window runs over the AGGREGATED relation only.
    The doc at rank k has length v iff the cumulative histogram count
    reaches k within v's bucket (cum-cnt < k <= cum) — doc_id ties
    never change which n_chars value sits at a position, so the
    answers are bit-identical to the per-document ranking."""
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents")
    hist = docs.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt"))
    wc = (Window.partitionBy("lang").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy("lang")
    ranked = hist.select(
        "lang", "n_chars", "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"))
    pos = lambda p: F.ceil(p * F.col("n")).cast("long")  # noqa: E731
    q = lambda p: F.max(  # noqa: E731
        F.when((F.col("cum") - F.col("cnt") < pos(p))
               & (F.col("cum") >= pos(p)), F.col("n_chars")))
    return ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long") * F.col("cnt"))
        .cast("long").alias("total_chars"),
        q(F.lit(0.5)).alias("p50_chars"),
        q(F.lit(0.9)).alias("p90_chars"),
    )


@register(
    "text_normalize",
    r"""
    select doc_id,
           trim(regexp_replace(
               regexp_replace(text,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '\s+', ' ', 'g')) as norm_text,
           lower(trim(regexp_replace(
               regexp_replace(text,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '\s+', ' ', 'g'))) as norm_lower,
           (length(text) - length(trim(regexp_replace(
               regexp_replace(text,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '\s+', ' ', 'g')))) as chars_removed
    from documents
    """,
)
def q_text_normalize(spark, sf_dir):
    """Training-text normalization as pure column expressions: strip
    C0/DEL control chars (tab/newlines fold into the whitespace
    collapse), collapse runs of whitespace to single spaces, trim, and
    a casefolded variant — the canonical pre-tokenization cleanup.
    Zero shuffles; codegen'd end to end."""
    docs = _ts(spark, sf_dir, "documents")
    stripped = F.regexp_replace(
        "text", r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    norm = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.lower(norm).alias("norm_lower"),
        (F.length("text") - F.length(norm)).alias("chars_removed"),
    )


_TFIDF_K = 3


@register(
    "tfidf_top_terms",
    f"""
    with tf as (
      select doc_id, tok, count(*) as tf
      from (select doc_id, unnest({LOWER_TOKENS_SQL}) as tok from documents) t
      group by doc_id, tok
    ),
    df as (select tok, count(*) as df from tf group by tok),
    n as (select count(*) as n from documents),
    scored as (
      select tf.doc_id, tf.tok, tf.tf, df.df,
             round(tf.tf * ln(n.n / df.df), 4) as tfidf,
             row_number() over (
               partition by tf.doc_id
               order by tf.tf * ln(n.n / df.df) desc, tf.tok) as rnk
      from tf join df using (tok) cross join n
    )
    select doc_id, tok, tf, df, tfidf
    from scored where rnk <= {_TFIDF_K}
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-document keyword extraction: TF-IDF top-{k} terms.

    Shuffle story at 10^12 docs: explode -> (doc, token) count (one
    exchange, map-side combinable), token document-frequency from the
    tf table (second exchange on token — already distinct per doc, so
    count(*) IS the document frequency), then a plain shuffled
    equi-join of tf against df on the token key, and a per-doc window
    for the top-k (partitioned by doc_id — millions of small
    partitions, no hot key). The corpus size N is a one-row count
    aggregate broadcast-cross-joined INSIDE the plan (VERDICT r4 item
    4 minor: the r4 shape ran an eager driver-side ``docs.count()`` —
    an extra full Spark job per invocation on plain parquet; now
    building the DataFrame submits zero jobs, pinned by
    ``test_tfidf_builds_without_running_a_job``).

    VERDICT r3 item 2: the r3 shape broadcast the df table, assuming
    "vocabulary << corpus" — but a whitespace-token vocabulary over
    web text (URLs, typos, numbers) is billions of distinct strings at
    10^12 docs, which OOMs the driver. The shuffle_hash hint pins a
    shuffled join (build side = df partitions, each a vocabulary
    shard) and keeps AQE from re-electing a broadcast; the join
    shares its `tok` partitioning with the df aggregation's exchange,
    so only the tf side adds a shuffle."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    toks = F.transform("toks", F.lower)
    tf = (docs.select("doc_id", F.explode(toks).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # one-row corpus count, broadcast into every partition (the twin's
    # `cross join n`); count(1) over parquet prunes to a zero-column
    # scan, and no eager driver job runs
    ncnt = docs.agg(F.count(F.lit(1)).alias("_n_corpus"))
    score = (F.col("tf")
             * F.log(F.col("_n_corpus").cast("double") / F.col("df")))
    scored = (tf.join(df.hint("shuffle_hash"), "tok")
              .crossJoin(F.broadcast(ncnt))
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy(score.desc(), F.asc("tok")))))
    return (scored.where(F.col("rnk") <= _TFIDF_K)
            .select("doc_id", "tok", "tf", "df",
                    F.round(score, 4).alias("tfidf")))


@register(
    "corpus_token_budget",
    f"""
    select lang, lang_tokens,
           round(lang_tokens / total, 6) as share,
           round(sum(lang_tokens) over (
                   order by lang_tokens desc, lang
                   rows unbounded preceding) / total, 6) as cum_share
    from (
      select lang,
             cast(sum(len({LOWER_TOKENS_SQL})) as bigint) as lang_tokens,
             cast(sum(sum(len({LOWER_TOKENS_SQL}))) over () as double) as total
      from documents group by lang) t
    """,
)
def q_corpus_token_budget(spark, sf_dir):
    """Training-budget planning surface: whitespace tokens per
    language with corpus share and the cumulative share in
    largest-first order (the 'how many languages until 90% of the
    budget' readout). Scale: ONE map-side-combinable groupBy(lang);
    every window runs over the ~#langs-row aggregate, never the
    corpus (the corpus_length_quantiles lesson, applied from the
    start)."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    agg = docs.groupBy("lang").agg(
        F.sum(F.size("toks")).cast("long").alias("lang_tokens"))
    wtot = Window.partitionBy()
    wcum = (Window.orderBy(F.desc("lang_tokens"), F.asc("lang"))
            .rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum("lang_tokens").over(wtot).cast("double")
    return agg.select(
        "lang", "lang_tokens",
        F.round(F.col("lang_tokens") / total, 6).alias("share"),
        F.round(F.sum("lang_tokens").over(wcum) / total, 6)
        .alias("cum_share"))


_2GRAM_SQL = f"""
    list_transform(range(len({LOWER_TOKENS_SQL}) - 1),
        i -> {LOWER_TOKENS_SQL}[i+1] || ' ' || {LOWER_TOKENS_SQL}[i+2])
"""


@register(
    "doc_repetition_stats",
    f"""
    select t.doc_id,
           m.n_tokens,
           round(m.top_cnt / m.n_tokens, 6) as top_word_share,
           case when len(g) > 0
                then round(1.0 - len(list_distinct(g))
                           / cast(len(g) as double), 6)
                else 0.0 end as dup_2gram_frac
    from (select doc_id, {_2GRAM_SQL} as g from documents) t
    join (
      select doc_id, cast(max(c) as double) as top_cnt,
             cast(sum(c) as double) as n_tokens
      from (
        select doc_id, tok, count(*) as c
        from (select doc_id, unnest({LOWER_TOKENS_SQL}) as tok
              from documents) u
        group by doc_id, tok) pc
      group by doc_id) m on m.doc_id = t.doc_id
    """,
)
def q_doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: the most-frequent-token share
    and the duplicated-bigram fraction per document (high values flag
    boilerplate/spam for the curation verdict). The bigram fraction is
    computed entirely inside array expressions (zero shuffle); the
    top-word share explodes to (doc, token) counts — two map-side-
    combinable exchanges on doc_id, no hot keys."""
    docs = documents(spark, sf_dir)
    toks = F.transform("toks", F.lower)
    # r7: token array bound once (lambda variable) — the old shape
    # captured the split+filter expression inside the per-gram lambda,
    # where each element_at reference re-evaluates it (the r5 HOF
    # hazard this repo's bind1 exists for).
    grams = F.element_at(F.transform(F.array(toks), lambda tk:
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 2),
            lambda i: F.concat(F.element_at(tk, i + 1), F.lit(" "),
                               F.element_at(tk, i + 2)))), 1)
    g = docs.select("doc_id", grams.alias("g"))
    dup = F.when(
        F.size("g") > 0,
        F.round(1.0 - F.size(F.array_distinct("g"))
                / F.size("g").cast("double"), 6)).otherwise(0.0)
    per_tok = (docs.select("doc_id", F.explode(toks).alias("tok"))
               .groupBy("doc_id", "tok")
               .agg(F.count(F.lit(1)).alias("c")))
    m = per_tok.groupBy("doc_id").agg(
        F.max("c").cast("double").alias("top_cnt"),
        F.sum("c").cast("double").alias("n_tokens"))
    return (g.join(m, "doc_id")
            .select("doc_id", "n_tokens",
                    F.round(F.col("top_cnt") / F.col("n_tokens"), 6)
                    .alias("top_word_share"),
                    dup.alias("dup_2gram_frac")))


# ---------------------------------------------------------------------------
# PII redaction (r5): the C4/Dolma-style scrub a pretraining pipeline
# runs before release — emails, IPv4 addresses, and phone-shaped
# number runs replaced with typed placeholder tokens, with per-doc hit
# counts so the curation layer can threshold on PII density. Patterns
# are restricted to the regex subset where Java (Spark) and RE2
# (DuckDB) agree exactly: character classes, bounded repetition, \b,
# no lookaround, no ambiguous alternation — the cross-engine gate
# hash-checks the FULL redacted text, so any semantic drift between
# the engines turns the row red.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d ()-]{6,}\d"


@register(
    "text_redact_pii",
    f"""
    select doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) as n_emails,
           len(regexp_extract_all(text, '{_PII_IPV4}')) as n_ipv4,
           len(regexp_extract_all(
                 regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g'),
                 '{_PII_PHONE}')) as n_phones,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') as redacted
    from documents
    """,
)
def q_text_redact_pii(spark, sf_dir):
    """Typed PII redaction with per-doc counts. Application order is
    fixed (email -> ipv4 -> phone) in BOTH engines: emails and IPs
    contain digit runs a phone pattern could swallow, so the phone
    count is measured on the already-email/IP-redacted text.

    Scale: pure projection, zero shuffles; regexp_replace runs inside
    whole-stage codegen on the JVM."""
    docs = _ts(spark, sf_dir, "documents")
    after_email = F.regexp_replace("text", _PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, _PII_IPV4, "<IP>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), 0))
        .alias("n_ipv4"),
        F.size(F.regexp_extract_all(after_ip, F.lit(_PII_PHONE), 0))
        .alias("n_phones"),
        F.regexp_replace(after_ip, _PII_PHONE, "<PHONE>")
        .alias("redacted"))


# ---------------------------------------------------------------------------
# sentence segmentation (r5): doc -> (doc_id, sent_idx, sentence) —
# the unit downstream stages want for windowed decontamination,
# sentence-level dedup, and seq-len bucketing. Terminator-split
# ([.!?]+ followed by whitespace) — deliberately simple and identical
# in both engines (no lookbehind: RE2 has none).
# ---------------------------------------------------------------------------

_SENT_SPLIT = r"[.!?]+\s+"


@register(
    "doc_sentences",
    f"""
    select doc_id, cast(u.i as int) as sent_idx,
           u.s as sentence, length(u.s) as n_chars
    from (
      select doc_id,
             unnest(list_transform(
               range(len(string_split_regex(text, '{_SENT_SPLIT}'))),
               i -> struct_pack(
                 i := i,
                 s := trim(string_split_regex(
                        text, '{_SENT_SPLIT}')[i + 1])))) as u
      from documents) t
    where u.s <> ''
    """,
)
def q_doc_sentences(spark, sf_dir):
    """Gate row of :func:`doc_sentences_df`."""
    return doc_sentences_df(_ts(spark, sf_dir, "documents"))


def doc_sentences_df(docs):
    """Exploded sentence table with stable per-doc ordinals.

    Scale: one generate (posexplode) over a projection — no shuffle;
    the ordinal comes from the split position, not a window, so the
    operation is embarrassingly parallel at any corpus size."""
    sents = F.split("text", _SENT_SPLIT)
    return (docs.select(
        "doc_id", F.posexplode(sents).alias("sent_idx", "raw"))
        .select("doc_id", "sent_idx",
                F.trim("raw").alias("sentence"))
        .where(F.col("sentence") != "")
        .withColumn("n_chars", F.length("sentence")))


_BOILER_MIN_DOCS = 3  # a sentence seen in >= N distinct docs is boilerplate


@register(
    "sentence_boilerplate",
    f"""
    with sents as (
      select doc_id, cast(u.i as int) as sent_idx,
             u.s as sentence
      from (
        select doc_id,
               unnest(list_transform(
                 range(len(string_split_regex(text, '{_SENT_SPLIT}'))),
                 i -> struct_pack(
                   i := i,
                   s := trim(string_split_regex(
                          text, '{_SENT_SPLIT}')[i + 1])))) as u
        from documents) t
      where u.s <> ''
    ),
    freq as (
      select sentence, count(distinct doc_id) as n_docs
      from sents group by sentence
    )
    select s.doc_id,
           count(*) as n_sents,
           cast(sum(case when f.n_docs >= {_BOILER_MIN_DOCS}
                         then 1 else 0 end) as bigint) as n_boiler,
           round(sum(case when f.n_docs >= {_BOILER_MIN_DOCS}
                          then 1 else 0 end)
                 / cast(count(*) as double), 6) as boiler_frac
    from sents s join freq f on f.sentence = s.sentence
    group by s.doc_id
    """,
)
def q_sentence_boilerplate(spark, sf_dir, docs=None):
    """Gate row of :func:`sentence_boilerplate_df`."""
    return sentence_boilerplate_df(documents(spark, sf_dir, docs))


def sentence_boilerplate_df(docs):
    """Corpus-level duplicated-sentence (boilerplate) detection — the
    C4 line-dedup signal: a sentence occurring in >= {N} distinct
    documents is boilerplate (nav text, disclaimers, templates); each
    doc reports its boilerplate fraction for the curation layer to
    threshold on.

    Scale: sentence frequencies via groupBy(sentence) with
    count(distinct doc_id) — map-side combinable on the
    high-cardinality sentence key; the join back to the exploded
    sentences shares that key's partitioning, then one combinable
    groupBy(doc_id). Same agg+join-back shape as dedup_simhash sizes
    (VERDICT r3 item 4's prescribed pattern) — no window over a
    low-cardinality key anywhere. At 10^12 docs the freq table is
    ~distinct-sentences rows; joining THROUGH the shuffle (not a
    broadcast) is deliberate — corpus-wide distinct sentences do not
    fit a driver."""
    sents = doc_sentences_df(docs).select("doc_id", "sentence")
    freq = sents.groupBy("sentence").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    is_boiler = (F.col("n_docs") >= _BOILER_MIN_DOCS).cast("int")
    return (sents.join(freq.hint("shuffle_hash"), "sentence")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sents"),
                 F.sum(is_boiler).cast("long").alias("n_boiler"),
                 F.round(F.sum(is_boiler)
                         / F.count(F.lit(1)).cast("double"), 6)
                 .alias("boiler_frac")))


_PACK_BUDGET = 512   # tokens per packed training sequence
_PACK_SHARDS = 64    # parallel packing shards


@register(
    "seq_pack_plan",
    f"""
    select doc_id, shard, n_tokens,
           cast(floor(cum_before / {_PACK_BUDGET}) as bigint) as pack_id,
           cast(cum_before - floor(cum_before / {_PACK_BUDGET})
                * {_PACK_BUDGET} as bigint) as offset_in_pack
    from (
      select doc_id, shard, n_tokens,
             cast(coalesce(sum(n_tokens) over (
               partition by shard order by doc_id
               rows between unbounded preceding and 1 preceding), 0)
               as bigint) as cum_before
      from (
        select doc_id,
               doc_id % {_PACK_SHARDS} as shard,
               cast(len({LOWER_TOKENS_SQL}) as bigint) as n_tokens
        from documents) t) w
    """,
)
def q_seq_pack_plan(spark, sf_dir):
    """Sequence-packing plan for training-batch assembly: docs are
    greedily packed in doc_id order into fixed token-budget sequences
    ({B} tokens), SHARD-PARALLEL — each of {S} shards packs
    independently, which is how distributed packing actually runs (a
    global greedy order would serialize the corpus through one
    worker). A doc is never split; a pack may overflow by less than
    one doc (the standard offline first-fit estimate). Output gives
    every doc its (shard, pack_id, offset) so the materialization
    stage can group-shuffle once on (shard, pack_id).

    Scale: one window per shard key — ordered but shard-local, so no
    global sort. S={S} suits the gate corpus; S is a SIZING PARAMETER
    like shuffle.partitions — each shard streams ~n/S rows through one
    window task, so at 10^12 docs set S ~ 10^5 (≈10^7 rows/task,
    spill-safe) — the plan shape is S-invariant. (doc_id%S rather
    than pmod(xxhash64) keeps the DuckDB twin trivially identical;
    production hashes for id-skew immunity, same plan.)"""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size("toks").cast("long").alias("n_tokens"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("n_tokens").over(w),
                            F.lit(0)).cast("long")
    pack = F.floor(cum_before / _PACK_BUDGET).cast("long")
    return base.select(
        "doc_id", "shard", "n_tokens",
        pack.alias("pack_id"),
        (cum_before - pack * _PACK_BUDGET).cast("long")
        .alias("offset_in_pack"))


def seq_pack_materialize(plan_df, docs_df):
    """Assemble the packed training sequences a trainer actually reads
    (VERDICT r5 item 3): group the :func:`q_seq_pack_plan` rows on
    (shard, pack_id) and emit, per pack, the concatenated token stream
    plus the doc-boundary mask (offset/doc_id/n_tokens per member, in
    pack order) — the array-of-struct shape a data loader consumes.

    ``plan_df`` must carry (doc_id, shard, n_tokens, pack_id,
    offset_in_pack); ``docs_df`` carries (doc_id, text). Tokenization
    matches the plan's (whitespace, lowercased), so
    ``size(tokens) == pack_tokens`` row-for-row.

    Scale: ONE group-shuffle on the (shard, pack_id) key the plan was
    built to make uniform (~budget tokens per group, high cardinality
    — no hot keys by construction); the token explode never happens
    (tokens travel as per-doc arrays, flattened after collect_list).
    The in-group sort is a sort_array over ~budget/mean-doc-len
    elements, not a partition sort."""
    toks = docs_df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("toks"))
    j = plan_df.join(toks, "doc_id")
    parts = F.sort_array(F.collect_list(F.struct(
        "offset_in_pack", "doc_id", "n_tokens", "toks")))
    agg = (j.groupBy("shard", "pack_id")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("pack_tokens"),
                F.min("doc_id").alias("first_doc"),
                F.max("doc_id").alias("last_doc"),
                parts.alias("parts")))
    boundaries = F.transform(
        "parts", lambda p: F.struct(
            p["offset_in_pack"].alias("offset_in_pack"),
            p["doc_id"].alias("doc_id"),
            p["n_tokens"].alias("n_tokens")))
    return agg.select(
        "shard", "pack_id", "n_docs", "pack_tokens",
        "first_doc", "last_doc",
        boundaries.alias("boundaries"),
        F.flatten(F.col("parts.toks")).alias("tokens"))


@register(
    "seq_pack_materialize",
    None,  # replaced below — embeds seq_pack_plan's registered twin
)
def q_seq_pack_materialize(spark, sf_dir):
    """Driver-gate projection of :func:`seq_pack_materialize`: per
    pack, the member stats plus an md5 fingerprint of the concatenated
    token stream — which proves the ASSEMBLY (membership, pack order,
    token bytes) is identical cross-engine while keeping the gate
    columns scalar. The boundary-mask array shape is pinned in
    pytest."""
    docs = _ts(spark, sf_dir, "documents")
    plan = q_seq_pack_plan(spark, sf_dir)
    packed = seq_pack_materialize(plan, docs)
    return packed.select(
        "shard", "pack_id", "n_docs", "pack_tokens",
        "first_doc", "last_doc",
        F.md5(F.concat_ws(" ", "tokens")).alias("pack_md5"))


def _seq_pack_mat_sql() -> str:
    from parsee_pdf_reader_spark.plans.queries import REGISTRY

    plan_sql = REGISTRY["seq_pack_plan"][1]
    return f"""
    with plan as ({plan_sql}),
    tok as (select doc_id, {LOWER_TOKENS_SQL} as toks from documents)
    select p.shard, p.pack_id,
           count(*) as n_docs,
           cast(sum(p.n_tokens) as bigint) as pack_tokens,
           min(p.doc_id) as first_doc,
           max(p.doc_id) as last_doc,
           md5(coalesce(string_agg(
                 nullif(array_to_string(t.toks, ' '), ''), ' '
                 order by p.offset_in_pack, p.doc_id), '')) as pack_md5
    from plan p join tok t using (doc_id)
    group by p.shard, p.pack_id
    """


from parsee_pdf_reader_spark.plans.queries import REGISTRY as _REG  # noqa: E402

_REG["seq_pack_materialize"] = (q_seq_pack_materialize,
                                _seq_pack_mat_sql())


# ---------------------------------------------------------------------------
# round 6: Gopher-style format/repetition rules + C4 boilerplate-line
# removal with text reassembly (the materialized twin of boiler_frac)
# ---------------------------------------------------------------------------

#: Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: ... Gopher", appendix A1.1 — public paper): docs outside these
#: bounds are overwhelmingly markup/listings/gibberish, not prose.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_WL_LO = 3.0
_GOPHER_WL_HI = 10.0
_GOPHER_SYM_MAX = 0.1     # '#' / ellipsis symbols per word
_GOPHER_BULLET_MAX = 0.9  # lines starting with a bullet
_GOPHER_ELL_MAX = 0.3     # lines ending with an ellipsis
_GOPHER_ALPHA_MIN = 0.8   # words containing >=1 alphabetic char
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have",
                 "with"]
_GOPHER_MIN_STOPS = 2

_G_STOPS_SQL = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
_G_LINES_SQL = ("list_filter(string_split(text, chr(10)), "
                "x -> trim(x) <> '')")


@register(
    "gopher_quality_rules",
    f"""
    with base as (
      select doc_id, {LOWER_TOKENS_SQL} as toks, {_G_LINES_SQL} as lines,
             length(text) - length(replace(text, '#', '')) as n_hash,
             len(regexp_extract_all(text, '\\.\\.\\.|…')) as n_ell
      from documents)
    select doc_id,
      len(toks) as n_words,
      round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
            / cast(greatest(len(toks), 1) as double), 4)
          as mean_word_len,
      round((n_hash + n_ell)
            / cast(greatest(len(toks), 1) as double), 6)
          as symbol_ratio,
      round(len(list_filter(lines, x ->
                regexp_matches(x, '^\\s*[-*•]')))
            / cast(greatest(len(lines), 1) as double), 6)
          as bullet_frac,
      round(len(list_filter(lines, x ->
                regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
            / cast(greatest(len(lines), 1) as double), 6)
          as ellipsis_frac,
      round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
            / cast(greatest(len(toks), 1) as double), 6)
          as alpha_word_frac,
      len(list_intersect(toks, [{_G_STOPS_SQL}])) as stop_hits,
      (len(toks) between {_GOPHER_MIN_WORDS} and {_GOPHER_MAX_WORDS}
       and coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
           / cast(greatest(len(toks), 1) as double)
           between {_GOPHER_WL_LO} and {_GOPHER_WL_HI}
       and (n_hash + n_ell)
           / cast(greatest(len(toks), 1) as double) < {_GOPHER_SYM_MAX}
       and len(list_filter(lines, x ->
               regexp_matches(x, '^\\s*[-*•]')))
           / cast(greatest(len(lines), 1) as double)
           < {_GOPHER_BULLET_MAX}
       and len(list_filter(lines, x ->
               regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
           / cast(greatest(len(lines), 1) as double) < {_GOPHER_ELL_MAX}
       and len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
           / cast(greatest(len(toks), 1) as double) > {_GOPHER_ALPHA_MIN}
       and len(list_intersect(toks, [{_G_STOPS_SQL}]))
           >= {_GOPHER_MIN_STOPS}) as pass_gopher
    from base
    """,
)
def q_gopher_quality_rules(spark, sf_dir):
    """The published Gopher format/repetition filter set as one
    projection: word-count bounds, mean-word-length bounds,
    symbol-per-word ratio ('#'/ellipsis), bullet-line and
    ellipsis-line fractions, alphabetic-word fraction, and a
    distinct-stopword floor, plus the conjunction verdict.

    Scale: zero shuffles — one codegen'd projection per doc. The token
    and line arrays are each bound ONCE (bind1 + inline Generate
    boundary, the r5 single-evaluation pattern) even though seven
    outputs read them; regexes are the Java/RE2-agreeing subset (no
    lookaround) so the DuckDB twin is byte-identical."""
    from parsee_pdf_reader_spark.operators.dedup import bind1

    docs = documents(spark, sf_dir)
    toks = F.transform("toks", F.lower)
    lines = F.filter(F.split("text", r"\n"),
                     lambda x: F.trim(x) != "")
    n_hash = (F.length("text")
              - F.length(F.regexp_replace("text", "#", "")))
    n_ell = F.regexp_count("text", F.lit(r"\.\.\.|…"))
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPS])

    def with_toks(tk):
        def with_lines(ln):
            n_words = F.size(tk)
            nw = F.greatest(n_words, F.lit(1)).cast("double")
            nl = F.greatest(F.size(ln), F.lit(1)).cast("double")
            wl_sum = F.aggregate(
                F.transform(tk, lambda x: F.length(x)),
                F.lit(0), lambda a, x: a + x)
            mean_wl = wl_sum / nw
            sym = (n_hash + n_ell) / nw
            bullet = F.size(F.filter(
                ln, lambda x: x.rlike(r"^\s*[-*•]"))) / nl
            ell = F.size(F.filter(
                ln, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))) / nl
            alpha = F.size(F.filter(
                tk, lambda x: x.rlike("[a-z]"))) / nw
            stop_hits = F.size(F.array_intersect(tk, stops))
            ok = ((n_words >= _GOPHER_MIN_WORDS)
                  & (n_words <= _GOPHER_MAX_WORDS)
                  & (mean_wl >= _GOPHER_WL_LO)
                  & (mean_wl <= _GOPHER_WL_HI)
                  & (sym < _GOPHER_SYM_MAX)
                  & (bullet < _GOPHER_BULLET_MAX)
                  & (ell < _GOPHER_ELL_MAX)
                  & (alpha > _GOPHER_ALPHA_MIN)
                  & (stop_hits >= _GOPHER_MIN_STOPS))
            return F.struct(
                n_words.alias("n_words"),
                F.round(mean_wl, 4).alias("mean_word_len"),
                F.round(sym, 6).alias("symbol_ratio"),
                F.round(bullet, 6).alias("bullet_frac"),
                F.round(ell, 6).alias("ellipsis_frac"),
                F.round(alpha, 6).alias("alpha_word_frac"),
                stop_hits.alias("stop_hits"),
                ok.alias("pass_gopher"))
        return bind1(lines, with_lines)

    return docs.select(
        "doc_id", F.inline(F.array(bind1(toks, with_toks))))


#: sentences in >= this many distinct docs are removed by c4_clean_text
#: (same threshold the sentence_boilerplate signal reports on)
_C4_MIN_DOCS = _BOILER_MIN_DOCS


@register(
    "c4_clean_text",
    None,  # replaced below — embeds doc_sentences' registered twin
)
def q_c4_clean_text(spark, sf_dir):
    """C4-style boilerplate-line REMOVAL with text reassembly — the
    materialized consumer of the ``sentence_boilerplate`` signal:
    sentences occurring in >= {N} distinct documents are dropped and
    every document's surviving sentences are re-joined in original
    order. Documents whose sentences are all boilerplate (or that had
    no sentences) come back with empty clean_text, never dropped rows.

    Scale: the same agg + shuffle_hash join-back shape as
    sentence_boilerplate (corpus-wide distinct sentences never
    broadcast), then ONE combinable groupBy(doc_id) whose in-group
    sort is an array sort over a doc's own sentences — no window, no
    global sort. The left join back to documents shares the doc_id
    partitioning."""
    sents = q_doc_sentences(spark, sf_dir).select(
        "doc_id", "sent_idx", "sentence")
    freq = sents.groupBy("sentence").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    kept = (sents.join(freq.hint("shuffle_hash"), "sentence")
            .where(F.col("n_docs") < _C4_MIN_DOCS))
    parts = F.sort_array(F.collect_list(F.struct("sent_idx",
                                                 "sentence")))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.concat_ws(
                        " ",
                        F.transform(parts, lambda s: s["sentence"]))
                    .alias("clean_text")))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (docs.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text")))


def _c4_clean_sql() -> str:
    from parsee_pdf_reader_spark.plans.queries import REGISTRY

    sents_sql = REGISTRY["doc_sentences"][1]
    return f"""
    with sents as ({sents_sql}),
    freq as (
      select sentence, count(distinct doc_id) as n_docs
      from sents group by sentence
    ),
    agg as (
      select s.doc_id, count(*) as n_kept,
             string_agg(s.sentence, ' ' order by s.sent_idx)
                 as clean_text
      from sents s join freq f using (sentence)
      where f.n_docs < {_C4_MIN_DOCS}
      group by s.doc_id
    )
    select d.doc_id, coalesce(a.n_kept, 0) as n_kept,
           coalesce(a.clean_text, '') as clean_text
    from documents d left join agg a on a.doc_id = d.doc_id
    """


from parsee_pdf_reader_spark.plans.queries import (  # noqa: E402
    REGISTRY as _REG6,
)

_REG6["c4_clean_text"] = (q_c4_clean_text, _c4_clean_sql())


@register(
    "source_mix_stats",
    f"""
    select d.source, d.lang,
           count(*) as n_docs,
           cast(sum(len({LOWER_TOKENS_SQL})) as bigint) as n_tokens,
           round(sum(len({LOWER_TOKENS_SQL})) / t.total, 6) as token_share
    from documents d
    cross join (select cast(sum(len({LOWER_TOKENS_SQL})) as double) as total
                from documents) t
    group by d.source, d.lang, t.total
    """,
)
def q_source_mix_stats(spark, sf_dir):
    """Data-mixture report: per (source, lang) document and token
    counts plus each stratum's share of the corpus token total — the
    table every pretraining run publishes to justify its sampling
    weights (and the input `corpus_sample`'s per-stratum rates are
    tuned against).

    Scale: one combinable groupBy over ~sources x langs keys; the
    corpus total enters the PLAN as a one-row broadcast cross join
    (the r5 tfidf pattern — no eager driver job, no window over a
    single partition)."""
    docs = documents(spark, sf_dir)
    n_toks = F.size("toks")
    total = (docs.agg(F.sum(n_toks).cast("double").alias("total")))
    agg = (docs.select("source", "lang", n_toks.alias("nt"))
           .groupBy("source", "lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").cast("long").alias("n_tokens")))
    return (agg.crossJoin(F.broadcast(total))
            .select("source", "lang", "n_docs", "n_tokens",
                    F.round(F.col("n_tokens") / F.col("total"), 6)
                    .alias("token_share")))


# ---------------------------------------------------------------------------
# statistical LM quality score (CCNet-style perplexity filtering,
# Wenzek et al. 2020, arXiv:1911.00359)
# ---------------------------------------------------------------------------

#: per-term logprob quantization before the exact decimal sum. 9 dp:
#: a 1-ulp ln() disagreement between the JVM and libm (~1e-16
#: relative) flips a 9th-decimal rounding with probability ~2e-7 per
#: term — negligible at gate scale, while 9 dp per term is far more
#: than the 6 dp the reported mean carries.
_LM_ROUND = 9
_LM_DEC = f"decimal(22,{_LM_ROUND})"


def _lm_score_sql() -> str:
    return f"""
    with toks as (select doc_id, {LOWER_TOKENS_SQL} as tk from documents),
    big as (
      select doc_id, tk[i+1] as w1, tk[i+2] as w2
      from toks, unnest(range(greatest(len(tk) - 1, 0))) as t(i)
    ),
    vocab as (
      select count(distinct t) as v
      from (select unnest(tk) as t from toks)
    ),
    c1 as (select w1, count(*) as c from big group by w1),
    c12 as (select w1, w2, count(*) as c from big group by w1, w2),
    terms as (
      select b.doc_id,
             cast(round(ln((c12.c + 1.0) / (c1.c + vocab.v)),
                        {_LM_ROUND}) as {_LM_DEC}) as lp
      from big b
      join c12 on c12.w1 = b.w1 and c12.w2 = b.w2
      join c1 on c1.w1 = b.w1
      cross join vocab
    ),
    scored as (
      select doc_id, count(*) as n_bigrams,
             round(cast(sum(lp) as double) / count(*), 6)
                 as avg_logprob
      from terms group by doc_id
    )
    select t.doc_id,
           coalesce(s.n_bigrams, 0) as n_bigrams,
           coalesce(s.avg_logprob, 0.0) as avg_logprob
    from toks t left join scored s using (doc_id)
    """


def ngram_lm_score_df(docs):
    """Per-document mean bigram log-probability under an add-1-smoothed
    bigram model trained on the corpus itself — the deterministic
    stand-in for CCNet's KenLM perplexity filter (no model binary in
    this container; the corpus-trained statistic ranks documents the
    same way: templated/common text scores high, out-of-distribution
    gibberish scores low). ``avg_logprob`` is monotone in perplexity
    (ppl = exp(-avg_logprob)), so thresholds transfer directly.
    ``docs`` carries ``toks``, as ``documents`` returns.

    Scale story:

    - bigram instances come from ONE bound projection + explode,
      materialized once per call: the pair counts and the join-back
      both read the stored stream, so the explode runs once (the
      instance rows are the ones the join-back shuffles anyway);
    - the count tables are combinable groupBys — a stop-word head
      like "the" partial-aggregates to one row per map task, so
      counting is skew-free; the head counts (c1) are the pair counts
      (c12) summed over w2, aggregated from the pair-count table
      rather than from the instances;
    - the join back to the instance stream is shuffle-hash pinned
      (a web-scale bigram vocabulary is billions of rows — never a
      driver broadcast; the tfidf r3 lesson), and AQE's skew-join
      split handles hot heads on the probe side;
    - the vocabulary size is a one-row aggregate broadcast-cross-
      joined inside the plan (the tfidf r4 shape — zero eager jobs);
    - cross-engine float determinism: each term is quantized to
      {R} dp and summed as decimal (exact, order-free), and the mean
      is one double division of identical operands (the kmeans
      quantize-then-decimal pattern).
    """.replace("{R}", str(_LM_ROUND))
    from parsee_pdf_reader_spark.operators.dedup import bind1

    big_arr = bind1(
        F.transform("toks", F.lower),
        lambda tk: F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - 2),
                lambda i: F.struct(
                    F.element_at(tk, i + 1).alias("w1"),
                    F.element_at(tk, i + 2).alias("w2"),
                ),
            ),
        ),
    )

    big = materialize(docs.select("doc_id", F.explode(big_arr).alias("g"))
                      .select("doc_id", "g.w1", "g.w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (docs.select(F.explode("toks").alias("t"))
             .agg(F.count_distinct(F.lower("t")).alias("v")))
    lp = F.round(
        F.log((F.coalesce("c12", F.lit(0)) + F.lit(1.0))
              / (F.coalesce("c1", F.lit(0)) + F.col("v"))), _LM_ROUND
    ).cast(_LM_DEC)
    terms = (big.join(c12.hint("shuffle_hash"), ["w1", "w2"], "left")
             .join(c1.hint("shuffle_hash"), "w1", "left")
             .crossJoin(F.broadcast(vocab))
             .select("doc_id", lp.alias("lp")))
    scored = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6)
        .alias("avg_logprob"))
    base = docs.select("doc_id")
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
        .alias("n_bigrams"),
        F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"))


@register("ngram_lm_score", _lm_score_sql())
def q_ngram_lm_score(spark, sf_dir):
    """Gate row of :func:`ngram_lm_score_df` over the documents table
    (self-trained: the counts and the scored documents are the same
    table)."""
    return ngram_lm_score_df(documents(spark, sf_dir))


def _lm_buckets_sql() -> str:
    return f"""
    with s as ({_lm_score_sql()}),
    hist as (
      select avg_logprob, count(*) as c from s group by avg_logprob
    ),
    cum as (
      select avg_logprob,
             sum(c) over (order by avg_logprob desc
                          rows unbounded preceding) as cum
      from hist
    ),
    tot as (select count(*) as n from documents)
    select s.doc_id, s.avg_logprob,
           case when s.n_bigrams = 0 then 'tail'
                when cum.cum <= ceil(tot.n / 3.0) then 'head'
                when cum.cum <= ceil(2 * tot.n / 3.0) then 'middle'
                else 'tail' end as ppl_bucket
    from s join cum using (avg_logprob) cross join tot
    """


@register("lm_ppl_buckets", _lm_buckets_sql())
def q_lm_ppl_buckets(spark, sf_dir, docs=None):
    """Gate row of :func:`lm_ppl_buckets_df`."""
    return lm_ppl_buckets_df(documents(spark, sf_dir, docs))


def lm_ppl_buckets_df(docs):
    """CCNet's actual selection mechanism over the LM statistic:
    head/middle/tail thirds by corpus-wide score rank (Wenzek et al.
    2020 §4.3 — CCNet keeps head+middle and drops the tail rather
    than applying an absolute threshold, which would not transfer
    across corpus sizes: the add-1 vocabulary term shifts every score
    as the corpus grows).

    Scale: the quantile boundary comes from a HISTOGRAM of distinct
    6-dp scores (groupBy — combinable) with one running-sum window
    over that histogram, never a global sort of the corpus (the
    corpus_length_quantiles shape: window input cardinality is
    #distinct scores << #docs); docs join their bucket back on the
    score value, and the corpus count is a one-row broadcast. Ties at
    a boundary stay in one bucket deterministically (inclusive
    cumulative count on the grouped value).

    Zero-evidence guard: a doc with no bigrams carries the 0.0
    sentinel — the MAXIMUM possible value (real scores are negative
    log-probabilities) — so without the override a single-token spam
    doc would outrank every genuine document. No bigrams = no
    evidence of quality: forced to 'tail' (and thus rejected by
    ``corpus_keep_filter``'s lm_ok). ``docs`` carries ``toks``, as
    ``documents`` returns.

    The score table is read three times (histogram, corpus count and
    join-back; it has one row per document), so it is materialized
    once per call: a fresh store each call, never one shared across
    calls, so a rewritten documents table is re-scored."""
    from pyspark.sql import Window

    s = materialize(ngram_lm_score_df(docs))
    hist = s.groupBy("avg_logprob").agg(F.count(F.lit(1)).alias("c"))
    w = (Window.orderBy(F.desc("avg_logprob"))
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.select("avg_logprob", F.sum("c").over(w).alias("cum"))
    tot = s.agg(F.count(F.lit(1)).alias("n"))
    bucket = (
        F.when(F.col("n_bigrams") == 0, "tail")
        .when(F.col("cum") <= F.ceil(F.col("n") / 3.0), "head")
        .when(F.col("cum") <= F.ceil(2 * F.col("n") / 3.0), "middle")
        .otherwise("tail"))
    return (s.join(cum, "avg_logprob")
            .crossJoin(F.broadcast(tot))
            .select("doc_id", "avg_logprob",
                    bucket.alias("ppl_bucket")))
