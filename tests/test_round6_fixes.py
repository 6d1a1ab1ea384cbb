"""Round-6 fix pins: every VERDICT-r5 / ADVICE-r5 item that changed
behavior gets a targeted test here (the round-5 fix file is the
template).

Covered:
- item 1: the driver-gate 50-query window contains the byte-identity
  flagships and every must-check row (queries() ordering).
- item 2: corpus_keep_filter carries the r5 signals (boiler/contam/
  sample) with per-criterion explainability.
- item 3: seq_pack_materialize invariants (budget, order, boundary
  mask consistency).
- item 4: decontam_against takes the benchmark suite as a second
  DataFrame.
- item 5: payload-free streaming claims are the default; batch
  payload rejoin recovers winner text.
- item 7: the two table-gate rows share one extraction (cells cache).
- ADVICE medium: run_extraction readback goes through read_pages.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# item 1: gate-window ordering
# ---------------------------------------------------------------------------

def test_flagships_inside_driver_gate_window():
    """The driver's correctness gate measures only the FIRST 50
    queries() entries (observed in round 5). The byte-identity
    flagships and the other must-check rows must sit inside that
    window, and every tail row must be a registry twin that a measured
    sibling subsumes."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    first50 = set(names[:50])
    must = {
        "extract_pages_flagship", "extract_pdf_flagship",
        "extract_web_pages", "media_decode_stub",
        "tables_df_format", "tables_df_pivot",
        "salted_user_stats", "dedup_recall_exact_dups",
        # this round's new measured rows
        "seq_pack_materialize", "corpus_keep_filter",
        "decontam_ngram_overlap", "gopher_quality_rules",
        "c4_clean_text", "semdedup_keep", "dup_span_stats",
        "ngram_lm_score", "dedup_against_index",
    }
    missing = must - first50
    assert not missing, f"must-check rows outside gate window: {missing}"
    # flagships lead the dict so registry growth can never push them out
    assert names[:6] == [
        "extract_pages_flagship", "extract_pdf_flagship",
        "extract_web_pages", "media_decode_stub",
        "tables_df_format", "tables_df_pivot"]
    # every tail row is a declared twin, still present (full inventory)
    for tail in names[50:]:
        assert tail in entrymod._TAIL_TWINS, tail
    # and every declared twin still has an oracle (pytest parity runs it)
    oracles = entrymod.oracle_sql()
    for tail in entrymod._TAIL_TWINS:
        assert tail in oracles


# ---------------------------------------------------------------------------
# item 7: shared cells computation for the two table-gate rows
# ---------------------------------------------------------------------------

def test_table_gate_rows_share_one_extraction(spark):
    import __spark_entry__ as entrymod

    entrymod._CELLS_CACHE.clear()
    a = entrymod._tables_df_format(spark, SF)
    assert len(entrymod._CELLS_CACHE) == 1
    b = entrymod._tables_df_pivot(spark, SF)
    # pivot reused the checkpointed cells — no second cache entry
    assert len(entrymod._CELLS_CACHE) == 1
    # the checkpointed plan contains no extraction stage (MapInArrow)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan
    assert a.count() > 0 and b.count() > 0


# ---------------------------------------------------------------------------
# item 2: extended curation verdict
# ---------------------------------------------------------------------------

def test_keep_filter_carries_r5_signals(spark):
    from parsee_pdf_reader_spark.operators.curation import (
        _BENCH_MAX_ID, q_corpus_keep_filter,
    )

    out = q_corpus_keep_filter(spark, SF)
    cols = set(out.columns)
    assert {"boiler_ok", "dup_ok", "lm_ok", "contam_ok", "sampled",
            "keep"} <= cols
    rows = {r.doc_id: r for r in out.collect()}
    # the held-out slice never ships as training data
    bench_ids = [d for d in rows if d < _BENCH_MAX_ID]
    assert bench_ids and all(not rows[d].contam_ok for d in bench_ids)
    # keep is the conjunction of every per-criterion flag
    for r in rows.values():
        want = (r.dedup_keep and r.quality_ok and r.lang_ok
                and r.len_ok and r.boiler_ok and r.dup_ok
                and r.lm_ok and r.contam_ok and r.sampled)
        assert r.keep == want, r
    # the span signal actually rejects part of the corpus
    assert any(not r.dup_ok for r in rows.values())
    # the perplexity tail is a genuine third of the corpus
    n_lm_bad = sum(1 for r in rows.values() if not r.lm_ok)
    assert abs(n_lm_bad - len(rows) / 3) <= 1, n_lm_bad
    # sampling actually rejects part of the corpus (rates < 1)
    assert any(not r.sampled for r in rows.values())
    assert any(r.keep for r in rows.values())


# ---------------------------------------------------------------------------
# item 3: pack materialization invariants
# ---------------------------------------------------------------------------

def test_seq_pack_materialize_invariants(spark):
    from parsee_pdf_reader_spark.operators.textstats import (
        _PACK_BUDGET, q_seq_pack_plan, seq_pack_materialize,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = q_seq_pack_plan(spark, SF)
    packed = seq_pack_materialize(plan, docs).collect()
    assert packed
    plan_rows = plan.collect()
    n_docs_total = sum(p.n_docs for p in packed)
    assert n_docs_total == len(plan_rows)  # every doc in exactly 1 pack
    for p in packed:
        # the token stream is exactly the boundary mask's docs, in
        # offset (= doc_id within shard) order, concatenated
        assert p.pack_tokens == sum(b.n_tokens for b in p.boundaries)
        assert len(p.tokens) == p.pack_tokens
        offs = [b.offset_in_pack for b in p.boundaries]
        assert offs == sorted(offs)
        ids = [b.doc_id for b in p.boundaries]
        assert ids == sorted(ids)  # greedy order is doc_id order
        assert p.first_doc == ids[0] and p.last_doc == ids[-1]
        # budget: a pack exceeds the budget by less than one doc
        if p.pack_tokens > _PACK_BUDGET:
            assert (p.pack_tokens - p.boundaries[-1].n_tokens
                    < _PACK_BUDGET)
        # boundary offsets are the running token sum
        run = offs[0]
        for b in p.boundaries:
            assert b.offset_in_pack == run
            run += b.n_tokens


# ---------------------------------------------------------------------------
# item 4: decontam with a genuinely separate benchmark table
# ---------------------------------------------------------------------------

def test_decontam_against_separate_benchmark_table(spark):
    from parsee_pdf_reader_spark.operators.curation import (
        decontam_against,
    )

    leak = ("the committee reviewed the annual budget allocation for "
            "infrastructure spending priorities next year")
    clean = ("a completely unrelated story about mountain weather "
             "patterns and seasonal snowfall depth records")
    train = spark.createDataFrame(
        [(1, leak + " plus trailing context tokens here"),
         (2, clean)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900, "held out question: " + leak)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           decontam_against(train, bench, min_hits=3).collect()}
    assert out[1].contaminated and out[1].n_overlap >= 3
    assert not out[2].contaminated and out[2].n_overlap == 0


# ---------------------------------------------------------------------------
# item 5: payload-free streaming claims + batch rejoin
# ---------------------------------------------------------------------------

def test_stream_neardup_slim_state_and_payload_rejoin(spark, tmp_path):
    """Default near-dup stream output carries NO text column (claims
    are min(doc_id) only); rejoin_payload recovers exactly the winner
    payloads from the durable raw store. keep_payload=True restores
    the r5 single-query shape with the SAME survivor set."""
    import datetime

    from parsee_pdf_reader_spark.streaming.incremental import (
        rejoin_payload, run_stream_neardup,
    )

    inp = os.path.join(str(tmp_path), "docs_stream")
    outp = os.path.join(str(tmp_path), "neardup")
    ck = os.path.join(str(tmp_path), "ck")
    outp2 = os.path.join(str(tmp_path), "neardup_fat")
    ck2 = os.path.join(str(tmp_path), "ck_fat")
    os.makedirs(inp)
    t0 = datetime.datetime(2025, 6, 1, 10, 0, 0)
    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank today")
    near = ("the quick brown fox jumps over the lazy dog near the "
            "river bank tonight")
    other = ("completely different content about quarterly revenue "
             "and operating expenses growth")
    schema = ("doc_id long, ingest_ts timestamp, text string, "
              "lang string")
    b1 = [(7, t0, base, "en"),
          (8, t0 + datetime.timedelta(minutes=1), near, "en"),
          (9, t0 + datetime.timedelta(minutes=2), other, "en")]
    b2 = [(99, t0 + datetime.timedelta(hours=3), "late sentinel", "en")]
    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.mode("append").parquet(inp)

    q = run_stream_neardup(spark, inp, outp, ck)
    q.awaitTermination(180)
    slim = spark.read.parquet(outp)
    assert set(slim.columns) == {"window_start", "doc_id"}
    assert {r.doc_id for r in slim.collect()} == {7, 9}

    docs = spark.read.parquet(inp)
    fat = rejoin_payload(slim, docs)
    got = {r.doc_id: r.text for r in fat.collect()}
    assert got == {7: base, 9: other}

    # the payload-carrying variant picks the same winners
    q2 = run_stream_neardup(spark, inp, outp2, ck2, keep_payload=True)
    q2.awaitTermination(180)
    fat2 = spark.read.parquet(outp2)
    assert set(fat2.columns) == {"window_start", "doc_id", "text"}
    assert {r.doc_id: r.text for r in fat2.collect()} == got


# ---------------------------------------------------------------------------
# ADVICE medium: run_extraction readback mirrors the sink dispatch
# ---------------------------------------------------------------------------

def test_run_extraction_readback_uses_read_pages(spark, tmp_path,
                                                 monkeypatch):
    import parsee_pdf_reader_spark.pipeline as pl
    from parsee_pdf_reader_spark.sources.synth import (
        synthesize_pages_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(8)
    pages = synthesize_pages_df(spark, docs)
    inp = os.path.join(str(tmp_path), "pages_in")
    pages.withColumn(
        "warc_ts",
        F.coalesce("warc_ts",
                   F.lit("2025-06-01 00:00:00").cast("timestamp"))) \
        .write.parquet(inp)
    outp = os.path.join(str(tmp_path), "pages_out")

    calls = []
    real = pl.read_pages

    def spy(spark_, source):
        calls.append(source)
        return real(spark_, source)

    monkeypatch.setattr(pl, "read_pages", spy)
    got = pl.run_extraction(spark, inp, outp)
    # read_pages served both the source AND the readback
    assert calls == [inp, outp]
    assert got.count() > 0


# ---------------------------------------------------------------------------
# round-6 new operators: behavior on planted phenomena (the gate corpus
# has no boilerplate sentences and no Gopher-rule violators, so hash
# parity alone would be vacuous — the r5 PII lesson)
# ---------------------------------------------------------------------------

def _local_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_c4_clean_text_removes_planted_boilerplate(spark, tmp_path,
                                                   monkeypatch):
    """A sentence occurring in >= 3 distinct docs is removed from all
    of them; unique sentences survive in original order; a doc made
    entirely of boilerplate comes back empty, not dropped."""
    import parsee_pdf_reader_spark.operators.textstats as ts

    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"unique alpha statement. {boiler}. closing alpha remark"),
        (2, f"{boiler}. unique beta content here"),
        (3, f"unique gamma opening. {boiler}"),
        (4, boiler),
        (5, "entirely original document with no shared lines"),
    ]
    docs = _local_docs(spark, rows)
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in
           ts.q_c4_clean_text(spark, sf).collect()}
    assert len(out) == 5
    assert out[1].clean_text == ("unique alpha statement "
                                 "closing alpha remark")
    assert out[1].n_kept == 2
    assert out[2].clean_text == "unique beta content here"
    assert out[3].clean_text == "unique gamma opening"
    assert out[4].clean_text == "" and out[4].n_kept == 0
    assert out[5].n_kept == 1
    for r in out.values():
        assert boiler not in r.clean_text


def test_gopher_rules_flag_planted_violators(spark, tmp_path):
    import parsee_pdf_reader_spark.operators.textstats as ts

    good = ("the committee will be meeting to review all of the "
            "budget items and priorities that have been raised with "
            "careful attention to detail across every department "
            "because the annual planning cycle requires that each "
            "request be weighed against the available funding and "
            "the expected benefit to the community over time")
    bullets = "\n".join(f"- item {i} in the listing" for i in range(10))
    symbols = " ".join(["the"] * 30 + ["###", "...", "…"] * 30)
    short = "too short to be the real prose"
    ellipsis = "\n".join(
        f"the line number {i} trails off into nothing..."
        for i in range(10))
    rows = [(1, good), (2, bullets), (3, symbols), (4, short),
            (5, ellipsis)]
    docs = _local_docs(spark, rows)
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in
           ts.q_gopher_quality_rules(spark, sf).collect()}
    assert out[1].pass_gopher, out[1]
    assert not out[2].pass_gopher and out[2].bullet_frac >= 0.9
    assert not out[3].pass_gopher and out[3].symbol_ratio >= 0.1
    assert not out[4].pass_gopher and out[4].n_words < 50
    assert not out[5].pass_gopher and out[5].ellipsis_frac >= 0.3
    # every per-rule feature is populated, not null
    for r in out.values():
        for f in ("mean_word_len", "symbol_ratio", "bullet_frac",
                  "ellipsis_frac", "alpha_word_frac", "stop_hits"):
            assert getattr(r, f) is not None


def test_semdedup_drops_planted_semantic_duplicates(spark, tmp_path):
    """SemDeDup behavior on planted duplicates: identical (and
    near-identical) embeddings land in the same cell and only the
    smallest vec_id survives; an orthogonal-ish vector keeps."""
    import parsee_pdf_reader_spark.operators.similarity as sim

    base = [float((i * 7) % 13) - 6.0 for i in range(16)]
    near = list(base)
    near[0] += 0.01
    other = [float((i * 5) % 11) - 5.0 if i % 2 else
             -(float((i * 3) % 7)) for i in range(16)]
    rows = [(10, base, 0), (11, base, 0), (12, near, 0),
            (13, other, 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path)
    emb.write.parquet(f"{sf}/embeddings.parquet")
    out = {r.vec_id: r for r in
           sim.q_semdedup_keep(spark, sf).collect()}
    assert len(out) == 4
    assert out[10].keep and out[10].n_sem_dups == 0
    assert not out[11].keep and out[11].n_sem_dups >= 1
    assert not out[12].keep  # near-duplicate also pruned
    # the distinct vector survives regardless of its cell
    assert out[13].keep, out[13]


# ---------------------------------------------------------------------------
# round-7 backlog item: duplicated-span statistics (Lee et al. 2022)
# ---------------------------------------------------------------------------

def test_dup_span_stats_planted_spans(spark):
    """Plant a shared 18-token span across two docs: 3 overlapping
    duplicated 16-gram windows must union to EXACTLY 18 covered tokens
    in each (not 3*16); an all-unique doc and a sub-window doc report
    zero; an internally-repeated doc is fully covered."""
    from parsee_pdf_reader_spark.operators.dedup import (
        _SPAN_N, dup_span_stats_df,
    )

    assert _SPAN_N == 16  # planted geometry below assumes this
    span = " ".join(f"s{i}" for i in range(18))
    phrase = " ".join(f"p{i}" for i in range(16))
    rows = [
        # shared 18-token span + 4 unique -> 18/22 covered
        (1, span + " u1 u2 u3 u4"),
        # same span, different padding -> 18/24 covered
        (2, "v1 v2 v3 " + span + " v4 v5 v6"),
        # 30 unique tokens -> nothing duplicated
        (3, " ".join(f"w{i}" for i in range(30))),
        # shorter than one window -> no grams, zero coverage
        (4, "x1 x2 x3 x4 x5"),
        # one 16-token phrase repeated back-to-back: windows at pos 0
        # and 16 collide (within a single doc), covering all 32 tokens
        (5, phrase + " " + phrase),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_stats_df(docs).collect()}
    assert len(out) == 5
    assert (out[1].n_tokens, out[1].dup_tokens) == (22, 18)
    assert (out[2].n_tokens, out[2].dup_tokens) == (24, 18)
    assert out[1].dup_frac == round(18 / 22, 6)
    assert (out[3].dup_tokens, out[4].dup_tokens) == (0, 0)
    assert (out[5].n_tokens, out[5].dup_tokens, out[5].dup_frac) == \
        (32, 32, 1.0)


def test_dup_span_stats_preagg_path_identical(spark):
    """The skew pre-agg variant (one row per (gram, doc) before the
    count window) must be value-identical to the default single-
    exchange path on a corpus where the signal actually fires."""
    from parsee_pdf_reader_spark.operators.dedup import (
        dup_span_stats_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    key = lambda r: (r.n_tokens, r.dup_tokens, r.dup_frac)  # noqa: E731
    a = {r.doc_id: key(r) for r in dup_span_stats_df(docs).collect()}
    b = {r.doc_id: key(r) for r in
         dup_span_stats_df(docs, skew_preagg=True).collect()}
    assert a == b
    assert sum(1 for v in a.values() if v[1] > 0) > 20  # exercised


def test_ngram_lm_score_ranks_ood_text_lower(spark):
    """The corpus-trained bigram LM must rank in-distribution text
    (bigrams the corpus repeats) above out-of-distribution gibberish
    (every bigram unseen elsewhere), and a doc with <2 tokens gets the
    zero-bigram sentinel row."""
    from parsee_pdf_reader_spark.operators.textstats import (
        ngram_lm_score_df,
    )

    common = "the quick brown fox jumps over the lazy dog"
    rows = ([(i, common) for i in range(1, 9)]
            + [(20, "zxq vnm plw qrt bbk jjw ooz yyx mmv ccd"),
               (21, "single")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_lm_score_df(docs).collect()}
    assert len(out) == 10
    # repeated-phrase docs: every bigram has count 8 -> high logprob
    assert out[1].avg_logprob > out[20].avg_logprob
    assert out[1].n_bigrams == 8 and out[20].n_bigrams == 9
    assert out[21].n_bigrams == 0 and out[21].avg_logprob == 0.0
    # all identical docs share one score
    assert len({out[i].avg_logprob for i in range(1, 9)}) == 1


def test_dedup_against_index_flags_history_matches(spark):
    """Incremental cross-corpus dedup: a new doc that near-duplicates
    a history doc (one trailing word changed — shares >=1 LSH band)
    must be flagged with the history canonical as matched_doc; a
    genuinely new doc passes as is_new."""
    from parsee_pdf_reader_spark.operators.dedup import (
        band_index_df, dedup_against_index,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank today")
    near = ("the quick brown fox jumps over the lazy dog near the "
            "river bank tonight")
    fresh = ("annual shareholder meeting scheduled for june with "
             "board election and audit review")
    hist = spark.createDataFrame(
        [(1, base), (2, "unrelated history content about mountain "
                        "weather and snowfall records")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, near), (11, fresh), (12, base)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_against_index(new, band_index_df(hist)).collect()}
    assert len(out) == 3
    assert not out[10].is_new and out[10].matched_doc == 1
    assert out[10].n_hit_bands >= 1
    # exact replay hits all bands and matches its history copy
    assert not out[12].is_new and out[12].matched_doc == 1
    from parsee_pdf_reader_spark.operators.dedup import _BANDS
    assert out[12].n_hit_bands == _BANDS
    assert out[11].is_new and out[11].matched_doc is None


def test_ngram_lm_score_separate_training_corpus(spark):
    """train_df separates training from scoring (the decontam_against
    pattern): a doc made of reference-corpus phrases outscores a doc
    of bigrams the reference never saw (which backs off to the add-1
    floor), and the self-train default is unchanged by the refactor."""
    from parsee_pdf_reader_spark.operators.textstats import (
        ngram_lm_score_df,
    )

    ref_phrase = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [(i, ref_phrase) for i in range(100, 108)],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, ref_phrase), (2, "zxq vnm plw qrt bbk jjw ooz yyx")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           ngram_lm_score_df(docs, train_df=train).collect()}
    assert out[1].avg_logprob > out[2].avg_logprob
    # unseen bigrams hit the add-1 floor exactly: ln(1 / (0 + V))
    import math
    v = 8  # distinct tokens in the reference phrase
    assert out[2].avg_logprob == round(math.log(1.0 / v), 6)


def test_mix_rebalance_plan_caps_and_renormalizes(spark):
    """Mixture planning: rate = min(1, weight*budget/stratum); an
    undersupplied stratum caps at 1.0 and the realized shares
    renormalize over planned tokens (summing to 1), exposing the gap
    to the target mix."""
    from parsee_pdf_reader_spark.operators.curation import (
        _MIX_BUDGET_FRAC, _MIX_TARGET, q_mix_rebalance_plan,
    )

    rows = {r.lang: r for r in
            q_mix_rebalance_plan(spark, SF).collect()}
    assert set(rows) == set(_MIX_TARGET)
    total = sum(r.lang_tokens for r in rows.values())
    budget = total * _MIX_BUDGET_FRAC
    for lang, r in rows.items():
        want = min(1.0, _MIX_TARGET[lang] * budget / r.lang_tokens)
        assert abs(r.rate - want) < 1e-6, (lang, r.rate, want)
        assert r.expected_tokens <= r.lang_tokens
    capped = [r for r in rows.values() if r.rate == 1.0]
    uncapped = [r for r in rows.values() if r.rate < 1.0]
    assert uncapped, "budget must actually bind somewhere"
    shares = sum(r.realized_share for r in rows.values())
    assert abs(shares - 1.0) < 1e-4, shares
    # a capped stratum's realized share falls below its target
    for r in capped:
        assert r.realized_share <= _MIX_TARGET[r.lang] + 1e-6


def test_lm_zero_bigram_docs_forced_to_tail(spark, tmp_path):
    """Review fix: a doc with <2 tokens carries the 0.0 sentinel — the
    MAXIMUM possible score — and must not ride it into 'head' (and
    through corpus_keep_filter's lm_ok): no bigrams = no evidence =
    tail."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_lm_ppl_buckets,
    )

    phrase = "the quick brown fox jumps over the lazy dog again"
    # repetition count varies per doc -> distinct scores -> all three
    # buckets populated among the scored docs
    rows = ([(i, " ".join([phrase] * (i + 1))) for i in range(9)]
            + [(90, "singletoken")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in q_lm_ppl_buckets(spark, sf).collect()}
    assert out[90].avg_logprob == 0.0  # sentinel, max of all scores
    assert out[90].ppl_bucket == "tail"  # ...but never 'head'
    assert any(r.ppl_bucket == "head" for r in out.values())


def test_lm_buckets_share_one_checkpointed_score_table(spark):
    """Review fix: the bucket query reads the scores three times
    (histogram, corpus count and join-back) and the keep filter embeds
    it. Each call stores ONE score table that all three reads share,
    so the executed plan holds no second copy of the bigram join tree;
    the next call stores a table of its own instead of reusing it."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_lm_ppl_buckets,
    )

    def stored_tables(df):
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return {leaves.apply(i).rdd().id() for i in range(leaves.size())
                if leaves.apply(i).getClass().getSimpleName()
                == "LogicalRDD"}

    df = q_lm_ppl_buckets(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the stored scan replaces the bigram pipeline: no bigram explode
    # and no shuffled count joins (w1/w2 keys) in the bucket plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "explode" not in plan, plan
    first = stored_tables(df)
    assert len(first) == 1, first
    assert stored_tables(q_lm_ppl_buckets(spark, SF)).isdisjoint(first)


def test_latest_snapshot_tiebreak_total_order(spark):
    """Review fix: same warc_ts AND same payload length must still
    pick one deterministic winner (content-digest tie-break), under
    any input order."""
    import datetime

    from parsee_pdf_reader_spark.training_pipeline import (
        latest_snapshot_per_url,
    )

    t = datetime.datetime(2025, 3, 1)
    a, b = b"payload-aaaa", b"payload-bbbb"  # same length
    url = "https://t.example/x"
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    w1 = latest_snapshot_per_url(spark.createDataFrame(
        [(url, t, a, "a", "en"), (url, t, b, "b", "en")],
        schema)).collect()
    w2 = latest_snapshot_per_url(spark.createDataFrame(
        [(url, t, b, "b", "en"), (url, t, a, "a", "en")],
        schema)).collect()
    assert len(w1) == 1 and len(w2) == 1
    assert w1[0].html == w2[0].html  # order-independent winner
    # null html never beats a real payload
    w3 = latest_snapshot_per_url(spark.createDataFrame(
        [(url, t, None, "n", "en"), (url, t, a, "a", "en")],
        schema)).collect()
    assert w3[0].html == a
