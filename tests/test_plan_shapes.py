"""Plan-shape regression tests for the VERDICT-r3 scale fixes.

Each of these queries was hash-green in round 3 but carried a plan
that would not survive 100x data (ordered windows over low-cardinality
keys, a broadcast of an unbounded vocabulary). The fixes must keep the
oracle answers bit-identical (covered by tests/test_oracles.py and the
driver gate) — these tests pin the PLAN so the hazards cannot
silently return.
"""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.001"


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_quantiles_window_reads_aggregated_relation(spark):
    """VERDICT r3 item 1: the ordered per-lang window must run over
    the groupBy(lang, n_chars) histogram, never over `documents`
    itself (one task sorting a whole language at 10^12 rows). In the
    optimized plan the Window node's subtree therefore contains an
    Aggregate keyed on (lang, n_chars) BELOW it (trees print
    parents first)."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_corpus_length_quantiles,
    )

    plan = _optimized(q_corpus_length_quantiles(spark, SF))
    win = plan.index("Window")
    agg = re.search(r"Aggregate \[lang[^\]]*, n_chars[^\]]*\]", plan)
    assert agg is not None, plan
    assert win < agg.start(), plan


def test_quantiles_matches_per_document_ranking(spark):
    """The histogram read-off must equal the per-document discrete
    quantile (value at position ceil(p*n) in (n_chars, doc_id) order),
    including tie-heavy histograms."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from parsee_pdf_reader_spark.operators.textstats import (
        q_corpus_length_quantiles,
    )

    got = {r.lang: r for r in
           q_corpus_length_quantiles(spark, SF).collect()}

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "lang", "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    q = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(p * F.col("n")).cast("long"),
               F.col("n_chars")))
    want = {r.lang: r for r in ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        q(F.lit(0.5)).alias("p50_chars"),
        q(F.lit(0.9)).alias("p90_chars")).collect()}

    assert set(got) == set(want)
    for lang in want:
        for f in ("n_docs", "total_chars", "p50_chars", "p90_chars"):
            assert getattr(got[lang], f) == getattr(want[lang], f), (
                lang, f, got[lang], want[lang])


def test_tfidf_does_not_broadcast_vocabulary(spark):
    """VERDICT r3 item 2: the document-frequency table is the token
    VOCABULARY — billions of rows over web text — and must reach the
    tf join through a shuffle, never a BroadcastExchange (driver OOM
    at scale). The shuffle_hash hint also has to survive AQE's
    broadcast re-election, so check the executed plan."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_tfidf_top_terms,
    )

    plan = _physical(q_tfidf_top_terms(spark, SF))
    # the tok equi-join must be shuffled; a broadcast vocabulary would
    # surface as a BroadcastHashJoin keyed on tok
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    # the ONLY broadcast allowed is the one-row corpus-count cross
    # join (r5: replaced the eager driver-side docs.count())
    n_bcast = plan.count("BroadcastExchange")
    assert n_bcast <= 1 and ("BroadcastNestedLoopJoin" in plan
                             if n_bcast else True), plan


def test_hof_expressions_evaluated_once_per_row(spark, monkeypatch):
    """r5 perf-wave pin: large interpreted higher-order-function
    expressions must appear in the optimized plan exactly once per
    scan side — project collapse re-inlining them per reference (or a
    captured Column re-evaluating per lambda element) multiplied
    operator cost 5-60x before the bind1 fixes (BENCH/BASELINE.md
    'operator-perf wave'). Occurrence counts of expression-unique
    markers are a stable structural proxy."""
    from parsee_pdf_reader_spark.operators import curation, dedup, textstats
    from parsee_pdf_reader_spark.operators.dedup import (
        q_dedup_minhash_lsh, q_simhash_near_pairs_wide,
    )
    from parsee_pdf_reader_spark.operators.multimodal import (
        q_media_byte_features,
    )

    def opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # one simhash fold per self-join side (the hex-digit table is
    # unique to the hash arithmetic)
    p = opt(q_simhash_near_pairs_wide(spark, SF))
    assert p.count("0123456789abcdef") == 2, p.count("0123456789abcdef")
    # per call, counted over the returned plan and the plans of the
    # relations the call stores (a stored relation's plan is not in
    # the returned one)
    stored = []
    store = dedup.materialize
    for mod in (curation, dedup, textstats):
        monkeypatch.setattr(mod, "materialize",
                            lambda df: stored.append(opt(df)) or store(df))

    def call_plans(df):
        plans = [opt(df)] + stored
        stored.clear()
        return plans

    # one minhash signature (array_min over per-slot md5s): both
    # self-join sides read the stored signatures, whose projection
    # splits the text once
    plans = call_plans(q_dedup_minhash_lsh(spark, SF))
    sig = [p for p in plans if "array_min" in p]
    assert sum(p.count("array_min") for p in plans) == 1, sig
    assert sig[0].count("split(") == 1, sig[0]
    # one tokenization for the whitespace count and the ratio
    plans = call_plans(textstats.q_token_counts(spark, SF))
    assert sum(p.count("split(") for p in plans) == 1, plans
    # one bigram explode: the pair counts and the join-back read the
    # stored bigram stream
    plans = call_plans(textstats.q_ngram_lm_score(spark, SF))
    assert sum(p.count("struct(w1") for p in plans) == 1, plans
    # the keep filter stores the documents with their tokens once and
    # every component reads that toks column: one whitespace split,
    # and the sentence split (split(text, [.!?]+\s+, -1)) at most twice
    plans = call_plans(curation.q_corpus_keep_filter(spark, SF))
    ws = sum(p.count(", \\s+, -1)") for p in plans)
    sent = sum(p.count(", [.!?]+\\s+, -1)") for p in plans)
    assert ws == 1 and sent <= 2, (ws, sent)
    assert sum(p.count("split(") for p in plans) == ws + sent, plans
    # the byte-feature chain sorts the byte array exactly once
    p = opt(q_media_byte_features(spark, SF))
    assert p.count("array_sort") == 1, p.count("array_sort")


def test_corpus_keep_filter_build_time_jobs(spark):
    """Building the keep filter runs Spark jobs before any action: the
    connected-components pair store runs eagerly, and under AQE a
    stored relation runs the shuffle stages beneath it when it is
    stored. The count is pinned so a change that re-runs a subplan at
    build time shows up here. (The earlier composition, which scanned,
    tokenized and signed per component, ran 39 on a cold call; label
    propagation rounds over the pairs ran 26.)"""
    from parsee_pdf_reader_spark.operators.curation import (
        q_corpus_keep_filter,
    )

    jobs = _build_time_jobs(spark, "corpus_keep_filter_build",
                            lambda: q_corpus_keep_filter(spark, SF))
    assert jobs == 15, jobs


def test_dedup_signature_tables_build_time_jobs(spark):
    """The simhash and verify signature projections are stored through
    ``materialize``, so building either query runs only the scan-spread
    shuffle beneath it. An eager ``localCheckpoint`` ran one more job
    per query at build time (3 each)."""
    from parsee_pdf_reader_spark.operators.dedup import (
        q_dedup_simhash,
        q_dedup_verify_pipeline,
    )

    for q in (q_dedup_simhash, q_dedup_verify_pipeline):
        jobs = _build_time_jobs(spark, f"{q.__name__}_build",
                                lambda: q(spark, SF))
        assert jobs == 2, (q.__name__, jobs)


def test_training_corpus_build_time_jobs(spark):
    """Building the training corpus runs Spark jobs before any action,
    for the same reasons as the keep filter: the connected-components
    pair store and the shuffle stages beneath each stored relation. The
    count is pinned. (The composition that dispatched in Spark and
    joined layout pages through a collect_list shuffle ran 6.)"""
    from parsee_pdf_reader_spark.sources.synth import (
        build_document,
        build_html_document,
    )
    from parsee_pdf_reader_spark.training_pipeline import (
        build_training_corpus,
    )

    rows = [(f"https://l.example/{i}", None,
             build_document(f"doc{i}", 42)[0], "t", "en")
            for i in range(4)]
    rows += [(f"https://w.example/{i}", None,
              build_html_document(f"web{i}", 42)[0], "t", "en")
             for i in range(4)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    jobs = _build_time_jobs(spark, "training_corpus_build",
                            lambda: build_training_corpus(pages))
    assert jobs == 5, jobs


def _build_time_jobs(spark, group, build):
    """Number of Spark jobs ``build()`` runs, counted over a job
    group through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_clean_numeric_tokens_one_exchange(spark):
    """The token vocabulary's distinct is the only shuffle: a spread
    scan beneath it added a second one."""
    from parsee_pdf_reader_spark.plans.queries import (
        q_clean_numeric_tokens,
    )

    plan = _physical(q_clean_numeric_tokens(spark, SF))
    assert plan.count("Exchange") == 1, plan


def test_topk_prereduces_before_priority_window(spark):
    """VERDICT r3 item 3: o_orderpriority has 5 values; the final
    ranked window may only ever see the <= 5*salt*k survivors of the
    salted phase-1 window. The optimized plan therefore carries TWO
    Window nodes, the lower one partitioned by (priority, salt)."""
    from parsee_pdf_reader_spark.plans.queries import (
        q_topk_orders_per_priority,
    )

    plan = _optimized(q_topk_orders_per_priority(spark, SF))
    wins = [m.start() for m in re.finditer(r"Window \[", plan)]
    assert len(wins) == 2, plan
    # the second (deeper) window is the salted one
    lower = plan[wins[1]:]
    assert "salt" in lower.split("\n")[0], plan


def _no_fat_window(plan):
    assert "Window" not in plan, plan
    assert re.search(r"Aggregate \[(simhash16|bucket)", plan), plan


def test_simhash_sizes_via_agg_join_not_window(spark):
    """VERDICT r3 item 4: cluster sizes must come from
    groupBy(simhash).count() + join back — a window partitioned by a
    16-bit key shuffles every row into <= 65,536 partitions."""
    from parsee_pdf_reader_spark.operators.dedup import q_dedup_simhash

    _no_fat_window(_optimized(q_dedup_simhash(spark, SF)))


def test_lsh_bucket_sizes_via_agg_join_not_window(spark):
    from parsee_pdf_reader_spark.operators.similarity import (
        q_ann_lsh_buckets,
    )

    _no_fat_window(_optimized(q_ann_lsh_buckets(spark, SF)))


def test_simhash_width_parameterized(spark):
    """simhash_col(nbits) widens past the saturated 16-bit oracle twin
    without overflow: 63-bit hashes stay non-negative (< 2^63),
    identical texts collide, the 16-bit prefix relationship holds
    (bit i of the 63-bit hash equals bit i of the 16-bit hash — same
    md5-nibble stream), and out-of-range widths are rejected."""
    import pyspark.sql.functions as F
    import pytest

    from parsee_pdf_reader_spark.operators.dedup import simhash_col
    from parsee_pdf_reader_spark.plans.queries import tokens

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")
    rows = docs.select(
        "doc_id",
        simhash_col(tokens("text"), 16).alias("h16"),
        simhash_col(tokens("text"), 63).alias("h63")).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[0].h63 == by_id[1].h63
    assert by_id[0].h63 != by_id[2].h63
    for r in rows:
        assert 0 <= r.h63 < (1 << 63)
        assert r.h63 & 0xFFFF == r.h16  # shared low-bit stream
    with pytest.raises(ValueError):
        simhash_col(tokens("text"), 64)
    with pytest.raises(ValueError):
        simhash_col(tokens("text"), 0)


def test_lsh_planes_parameterized(spark):
    """lsh_bucket_col(nplanes) widens past the 8-plane oracle twin:
    40-plane buckets keep the 8-plane low bits (same plane stream),
    stay in [0, 2^40), and invalid widths raise."""
    import pytest

    from parsee_pdf_reader_spark.operators.similarity import (
        lsh_bucket_col,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    rows = emb.select(
        lsh_bucket_col(8).alias("b8"),
        lsh_bucket_col(40).alias("b40")).collect()
    assert rows
    for r in rows:
        assert 0 <= r.b40 < (1 << 40)
        assert r.b40 & 0xFF == r.b8
    with pytest.raises(ValueError):
        lsh_bucket_col(0)
    with pytest.raises(ValueError):
        lsh_bucket_col(64)


def test_gopher_rules_zero_exchange_single_evaluation(spark):
    """Round 6: the Gopher rule set is one shuffle-free projection,
    and the token/line arrays are bound once (bind1 + inline) — the
    physical plan has exactly one Generate from the inline boundary
    and no shuffle beyond the r7 scan spread (a single round-robin
    repartition that parallelizes the single-row-group test scan; at
    scale `_ts` is a no-op, so the rule set itself stays
    shuffle-free)."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_gopher_quality_rules,
    )

    plan = _physical(q_gopher_quality_rules(spark, SF))
    n_exchanges = plan.count("Exchange")
    n_roundrobin = plan.count("Exchange RoundRobinPartitioning")
    assert n_exchanges == n_roundrobin <= 1, plan
    assert plan.count("Generate") == 1, plan


def test_seq_pack_materialize_single_group_shuffle(spark):
    """Round 6: pack assembly pays the plan join plus ONE
    (shard, pack_id) group-shuffle and never explodes tokens — no
    Generate node, no per-token rows, and the aggregate keys on
    (shard, pack_id)."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_seq_pack_materialize,
    )

    plan = _optimized(q_seq_pack_materialize(spark, SF))
    assert re.search(r"Aggregate \[shard[^\]]*, pack_id[^\]]*\]",
                     plan), plan
    assert "Generate" not in plan, plan  # tokens stay per-doc arrays


def test_c4_clean_text_no_corpus_broadcast(spark):
    """Round 6: the sentence-frequency join — the one whose build side
    is corpus-sized — goes through the shuffle (shuffle_hash hint),
    never a driver broadcast. (The final doc_id left-join is
    UN-hinted: Catalyst broadcasts the rebuilt side at this tiny SF by
    size stats and will pick SMJ once it outgrows the threshold —
    that's the size-based behavior we want, so only the sentence join
    is pinned.)"""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_c4_clean_text,
    )

    plan = _physical(q_c4_clean_text(spark, SF))
    m = re.search(r"ShuffledHashJoin \[sentence#\d+\]", plan)
    assert m is not None, plan
    assert not re.search(
        r"BroadcastHashJoin \[sentence#\d+\]", plan), plan


def test_dedup_against_index_band_join_shuffled(spark):
    """Round 6: the new-crawl vs history-index band join must go
    through the shuffle (shuffle_hash hint on the index side — a
    10^12-doc band index never fits a driver broadcast) and the
    per-new-doc hit aggregation keys on the new doc id. Only the band
    join is pinned; the final base left-join is size-based."""
    from parsee_pdf_reader_spark.operators.dedup import (
        q_dedup_against_index,
    )

    plan = _physical(q_dedup_against_index(spark, SF))
    m = re.search(r"ShuffledHashJoin \[b#\d+, band_hash#\d+\]", plan)
    assert m is not None, plan
    assert not re.search(
        r"BroadcastHashJoin \[b#\d+, band_hash#\d+\]", plan), plan


def test_ngram_lm_score_count_joins_shuffled(spark):
    """Round 6: the bigram-count join-backs are shuffle_hash-pinned
    (web-scale bigram vocabulary never broadcasts — the tfidf r3
    lesson). Only the count joins are pinned; the final doc_id
    left-join is UN-hinted and size-based (broadcasts at this tiny SF,
    SMJ at scale — the c4 precedent)."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_ngram_lm_score,
    )

    plan = _physical(q_ngram_lm_score(spark, SF))
    assert re.search(r"ShuffledHashJoin \[w1#\d+, w2#\d+\]",
                     plan), plan
    assert re.search(r"ShuffledHashJoin \[w1#\d+\]", plan), plan
    assert not re.search(r"BroadcastHashJoin \[w1#\d+", plan), plan
