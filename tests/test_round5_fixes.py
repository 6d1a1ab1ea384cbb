"""Round-5 pins: one test per VERDICT-r4 / ADVICE-r4 item closed this
round."""

import os

import pytest

from conftest import SF_SMOKE as SF


def test_simhash_near_pairs_wide_recall(spark, tmp_path):
    """Manku pigeonhole recall at PRODUCTION parameters (VERDICT r4
    item 1): 63-bit hash, 4 x 16-bit bands, k=3 < 4 bands. The banded
    join must produce EXACTLY the brute-force set of hamming<=3 pairs
    — including planted near-dup families whose hashes differ in only
    a few bits — and, unlike the saturated 16-bit twin, candidate
    volume collapses to ~the true near-dups."""
    from parsee_pdf_reader_spark.operators.dedup import (
        _toks, q_simhash_near_pairs_wide, simhash_col,
    )

    d = str(tmp_path)
    base = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    rows = [(r.doc_id, r.text) for r in base.select("doc_id", "text")
            .collect()]
    nxt = max(i for i, _ in rows) + 1
    planted = []
    for k in range(4):
        # near-dup family: same long text +- one trailing token — at
        # 63 bits the frequency-weighted hash moves only a few bits
        t = rows[k][1]
        planted.append((nxt + 2 * k, t))
        planted.append((nxt + 2 * k + 1, t + " zq"))
    spark.createDataFrame(rows + planted, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.hamming
           for r in q_simhash_near_pairs_wide(spark, d).collect()}
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    hs = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash_col(_toks(), 63).alias("sh")).collect()}
    ids = sorted(hs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(hs[a] ^ hs[b]).count("1")
            if ham <= 3:
                want[(a, b)] = ham
    assert got == want
    # the exact-dup copies of the planted bases must be found
    for k in range(4):
        assert (rows[k][0], nxt + 2 * k) in got
    # wide bands are NOT saturated: pairs ~ dups, not ~C(n,2)/16
    n = len(ids)
    assert len(got) < n * (n - 1) / 2 / 16


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


def test_dedup_stack_planted_recall(spark, tmp_path):
    """VERDICT r4 item 8: seeded corpus with planted near-dup families
    -> every shipped candidate generator (MinHash-LSH, the verified
    pipeline, wide SimHash bands) finds 100% of the planted pairs at
    the SHIPPED batch parameters."""
    from parsee_pdf_reader_spark.operators.evaluation import (
        dedup_recall_report, plant_near_dup_corpus,
    )

    d = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    planted = plant_near_dup_corpus(spark, docs, d, n_families=12)
    assert planted.count() == 12
    report = {r.method: r for r in
              dedup_recall_report(spark, d, planted).collect()}
    assert set(report) == {"minhash_lsh", "minhash_lsh_verified",
                           "simhash_wide_bands"}
    for name, r in report.items():
        assert r.n_planted == 12, r
        assert r.recall == 1.0, (name, r)
        assert r.n_emitted >= r.n_found
    # MinHash's contract covers every planted one-token edit
    assert report["minhash_lsh"].n_eligible == 12
    assert report["minhash_lsh_verified"].n_eligible == 12
    # the simhash envelope (hamming<=3 of the 63-bit hash) must be
    # non-vacuous — several planted edits land inside it
    assert report["simhash_wide_bands"].n_eligible >= 4


def test_dedup_recall_exact_dups_invariant(spark):
    """The gate-registered recall invariant: planted exact duplicates
    must be found by every candidate generator with recall exactly
    1.0 (identical text -> identical signatures -> same bands)."""
    from parsee_pdf_reader_spark.operators.evaluation import (
        q_dedup_recall_exact_dups,
    )

    rows = {r.method: r for r in
            q_dedup_recall_exact_dups(spark, SF).collect()}
    assert set(rows) == {"minhash_lsh", "simhash_wide_bands"}
    for r in rows.values():
        assert r.n_truth == 30 and r.n_found == 30 and r.recall == 1.0


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


def test_pii_redaction_behavior(spark, tmp_path):
    """r5 PII scrub: emails/IPs/phones replaced with typed tokens,
    counts accurate, application order prevents the phone pattern
    from swallowing already-redacted digit runs."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_text_redact_pii,
    )

    d = str(tmp_path)
    rows = [
        (1, "contact jane.doe+x@ex-ample.org or 10.0.255.7 today"),
        (2, "call +1 415 555 0199 or (020) 7946-0958 now"),
        (3, "no pii here at all"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in q_text_redact_pii(spark, d).collect()}
    assert got[1].n_emails == 1 and got[1].n_ipv4 == 1
    assert "<EMAIL>" in got[1].redacted and "<IP>" in got[1].redacted
    assert "@" not in got[1].redacted
    assert got[2].n_phones >= 1 and "<PHONE>" in got[2].redacted
    assert got[3].redacted == rows[2][1]
    assert got[3].n_emails == got[3].n_ipv4 == got[3].n_phones == 0


def test_pii_redaction_matches_python_re(spark, tmp_path):
    """Randomized cross-check: Spark's (Java-regex) redaction must
    byte-match a pure-Python `re` reference on 80 seeded strings mixing
    emails, IPs, phone runs, and near-miss noise — the driver gate
    corpus contains no real PII, so this test carries the semantic
    load for PII-shaped inputs. The patterns are restricted to the
    Java/RE2/`re`-agreeing subset, and this proves it empirically for
    Java vs `re` (the gate proves Java vs RE2 on clean text)."""
    import random
    import re as pyre

    from parsee_pdf_reader_spark.operators.textstats import (
        _PII_EMAIL, _PII_IPV4, _PII_PHONE, q_text_redact_pii,
    )

    rng = random.Random(7)
    frags = [
        "plain words here", "a.b+c_d@mail-host.example.com",
        "user@sub.domain.org", "not@an@email", "10.0.0.1",
        "999.999.1.2", "1.2.3.4.5", "+44 20 7946 0958",
        "(415) 555-0199", "12345", "v1.2.3", "x@y.z",
        "tel: 0049 (0)30 123456", "a@b.co", "semver 10.20.30",
        "... 172.16.254.3 ...", "+-+-", "e@e.ee e@e.ee",
    ]
    rows = []
    for i in range(80):
        k = rng.randint(1, 6)
        rows.append((i, " ".join(rng.choice(frags) for _ in range(k))))
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in q_text_redact_pii(spark, d).collect()}

    for i, text in rows:
        t1 = pyre.sub(_PII_EMAIL, "<EMAIL>", text)
        t2 = pyre.sub(_PII_IPV4, "<IP>", t1)
        want = pyre.sub(_PII_PHONE, "<PHONE>", t2)
        g = got[i]
        assert g.redacted == want, (text, g.redacted, want)
        assert g.n_emails == len(pyre.findall(_PII_EMAIL, text))
        assert g.n_ipv4 == len(pyre.findall(_PII_IPV4, text))
        assert g.n_phones == len(pyre.findall(_PII_PHONE, t2))

    # and the RE2 engine (DuckDB twin) agrees on the SAME pii-laden
    # corpus — the driver gate only ever feeds it clean synth text
    import duckdb

    from parsee_pdf_reader_spark.plans.queries import REGISTRY

    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"parquet_scan('{os.path.join(d, 'documents.parquet')}"
        "/*.parquet')")
    duck = {r[0]: r for r in con.execute(
        REGISTRY["text_redact_pii"][1]).fetchall()}
    for i, _text in rows:
        g = got[i]
        assert duck[i][1:] == (g.n_emails, g.n_ipv4, g.n_phones,
                               g.redacted), (i, duck[i], g)


def test_doc_sentences_ordinals(spark, tmp_path):
    """r5 sentence segmentation: stable 0-based ordinals from split
    position, terminators stripped, empties dropped."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_doc_sentences,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "One two. Three four! Five?  Six")],
        "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = sorted((r.sent_idx, r.sentence)
                 for r in q_doc_sentences(spark, d).collect())
    assert got == [(0, "One two"), (1, "Three four"),
                   (2, "Five"), (3, "Six")]


def test_sentence_boilerplate_flags_planted_template(spark, tmp_path):
    """r5 C4-style line dedup signal: a sentence planted across >= 3
    docs is boilerplate; unique sentences are not. (The synth gate
    corpus has no cross-doc repeated sentences, so this test carries
    the behavioral load.)"""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_sentence_boilerplate,
    )

    d = str(tmp_path)
    nav = "Subscribe to our newsletter today."
    rows = [(i, f"{nav} Unique body text number {i} here.")
            for i in range(5)]
    rows.append((99, "Totally standalone document. Two sentences."))
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in
           q_sentence_boilerplate(spark, d).collect()}
    for i in range(5):
        assert got[i].n_sents == 2 and got[i].n_boiler == 1
        assert abs(got[i].boiler_frac - 0.5) < 1e-9
    assert got[99].n_boiler == 0 and got[99].boiler_frac == 0.0


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
