"""Round-5 pins: one test per VERDICT-r4 / ADVICE-r4 item closed this
round."""

import os

import pytest

from conftest import SF_SMOKE as SF


def test_tfidf_builds_without_running_a_job(spark):
    """VERDICT r4 minor: round 4 ran an eager driver-side
    ``docs.count()`` while BUILDING the tfidf DataFrame — one extra
    full-scan Spark job per invocation. The corpus count is now a
    one-row aggregate broadcast inside the plan, so construction
    submits ZERO SQL executions (and the oracle stays green, checked
    by the gate)."""
    import time

    from parsee_pdf_reader_spark.operators.textstats import (
        q_tfidf_top_terms,
    )

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    q_tfidf_top_terms(spark, SF)  # build only, no action
    time.sleep(1.0)  # the status store updates asynchronously
    assert store.executionsCount() - before == 0


def test_kmeans_r3_refines_beyond_r1(spark):
    """r5: the three-round gate row is non-vacuous — iteration moves a
    meaningful fraction of assignments past the one-round oracle, and
    total within-cluster distance does not increase (Lloyd
    monotonicity on the same seed)."""
    from pyspark.sql import functions as F

    from parsee_pdf_reader_spark.operators.similarity import (
        q_kmeans_assign, q_kmeans_assign_r3,
    )

    r1 = {r.vec_id: (r.cluster, r.dist)
          for r in q_kmeans_assign(spark, SF).collect()}
    r3 = {r.vec_id: (r.cluster, r.dist)
          for r in q_kmeans_assign_r3(spark, SF).collect()}
    assert set(r1) == set(r3)
    moved = sum(1 for k in r1 if r1[k][0] != r3[k][0])
    assert moved > 0
    assert sum(d for _c, d in r3.values()) <= \
        sum(d for _c, d in r1.values()) + 1e-6


def test_seq_pack_plan_invariants(spark):
    """r5 sequence packing: per shard, docs fill packs greedily in
    doc_id order — offsets stay under the budget, packs never exceed
    budget + one doc's tokens (docs are unsplit), pack ids are
    monotone in doc_id, and every doc appears exactly once."""
    from collections import defaultdict

    from parsee_pdf_reader_spark.operators.textstats import (
        _PACK_BUDGET, q_seq_pack_plan,
    )

    rows = q_seq_pack_plan(spark, SF).collect()
    n_docs = (spark.read.parquet(f"{SF}/documents.parquet").count())
    assert len(rows) == n_docs
    by_shard = defaultdict(list)
    for r in rows:
        assert 0 <= r.offset_in_pack < _PACK_BUDGET
        by_shard[r.shard].append(r)
    packs = defaultdict(int)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        last_pack = -1
        for r in rs:
            assert r.pack_id >= last_pack  # monotone fill order
            last_pack = r.pack_id
            packs[(shard, r.pack_id)] += r.n_tokens
    max_doc = max(r.n_tokens for r in rows)
    assert max(packs.values()) < _PACK_BUDGET + max_doc
    assert len(packs) > n_docs * 40 // _PACK_BUDGET  # non-degenerate


def test_corpus_sample_deterministic_and_stratified(spark):
    """r5 sampling plan: decisions are a pure function of doc_id (two
    runs identical), per-language keep fractions track the configured
    rates, and the oracle arithmetic (md5 u32 draw) matches the
    shipped thresholds."""
    from pyspark.sql import functions as F

    from parsee_pdf_reader_spark.operators.curation import (
        _SAMPLE_DEFAULT, _SAMPLE_RATES, q_corpus_sample,
    )

    a = q_corpus_sample(spark, SF).collect()
    b = q_corpus_sample(spark, SF).collect()
    assert {(r.doc_id, r.sampled) for r in a} == \
        {(r.doc_id, r.sampled) for r in b}
    stats = (q_corpus_sample(spark, SF)
             .groupBy("lang", "sample_rate")
             .agg(F.avg(F.col("sampled").cast("int")).alias("frac"),
                  F.count(F.lit(1)).alias("n")).collect())
    for r in stats:
        want = _SAMPLE_RATES.get(r.lang, _SAMPLE_DEFAULT)
        assert r.sample_rate == want
        # binomial noise bound at these n (>=60 per lang): 4 sigma
        sigma = (want * (1 - want) / r.n) ** 0.5
        assert abs(r.frac - want) < 4 * sigma + 1e-9, (r.lang, r.frac)


def test_decontam_flags_planted_benchmark_copy(spark, tmp_path):
    """r5 decontamination: a training doc that embeds a benchmark
    doc's text must be flagged contaminated; clean docs (templated
    boilerplate overlap only) must NOT trip the 8-gram threshold."""
    from parsee_pdf_reader_spark.operators.curation import (
        _BENCH_MAX_ID, q_decontam_ngram_overlap,
    )

    d = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench_text = docs.where(f"doc_id = {_BENCH_MAX_ID - 1}") \
        .collect()[0].text
    next_id = 100000
    leaked = [(next_id, "intro words then " + bench_text + " outro")]
    corpus = docs.select("doc_id", "text", "lang").unionByName(
        spark.createDataFrame(
            [(i, t, "en") for i, t in leaked],
            "doc_id long, text string, lang string"))
    corpus.write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in
            q_decontam_ngram_overlap(spark, d).collect()}
    assert rows[next_id].contaminated, rows[next_id]
    # 8-gram shingles keep the false-trip rate low on templated text
    n_contam = sum(1 for r in rows.values() if r.contaminated)
    assert n_contam <= len(rows) * 0.05, n_contam
