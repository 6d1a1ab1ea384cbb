"""Round-6 fix pins: every VERDICT-r5 / ADVICE-r5 item that changed
behavior gets a targeted test here (the round-5 fix file is the
template).

Covered:
- item 1: the driver-gate 50-query window contains the byte-identity
  flagships and every must-check row (queries() ordering).
- item 2: corpus_keep_filter carries the r5 signals (boiler/contam/
  sample) with per-criterion explainability.
- item 7: the two table-gate rows share one extraction (cells cache).
"""

import os
import sys

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


