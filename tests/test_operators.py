"""Behavioral tests for training-data operators (dedup, similarity,
multimodal plumbing)."""

import os

import pytest
from pyspark.sql import functions as F

from parsee_pdf_reader_spark.operators.dedup import (
    q_dedup_exact,
    q_dedup_minhash_lsh,
    q_dedup_simhash,
)
from parsee_pdf_reader_spark.operators.multimodal import (
    build_media_blob,
    decode_media,
    frame_sample,
    make_media_df,
    media_decode_query,
)
from parsee_pdf_reader_spark.operators.similarity import q_ann_cosine_topk

from conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    """A tiny documents/embeddings dir with known dups + neighbors."""
    d = str(tmp_path_factory.mktemp("crafted"))
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon") * 3
    near = base.replace("sigma", "sigma2", 1)
    docs = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),          # exact dup of 0
        (2, near, "en", "s", len(near)),          # near dup of 0
        (3, "totally different words entirely unrelated content here "
            "nothing shared with others at all", "en", "s", 90),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    embs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),    # the query (vec_id < 10)
        (10, [1.0, 0.0, 0.0, 0.0], 0),   # identical -> cos 1
        (12, [0.9, 0.1, 0.0, 0.0], 0),   # near neighbor
        (13, [0.0, 1.0, 0.0, 0.0], 1),   # orthogonal
        (14, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite -> cos -1
    ]
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_dedup_exact_finds_duplicate(spark, crafted_dir):
    rows = {r.doc_id: r for r in q_dedup_exact(spark, crafted_dir).collect()}
    assert rows[1].canonical_id == 0 and rows[1].is_dup
    assert not rows[0].is_dup and not rows[3].is_dup


def test_minhash_lsh_finds_near_duplicate(spark, crafted_dir):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard
             for r in q_dedup_minhash_lsh(spark, crafted_dir).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5
    assert not any(3 in p for p in pairs)


def test_simhash_clusters_identical_docs(spark, crafted_dir):
    rows = {r.doc_id: r for r in
            q_dedup_simhash(spark, crafted_dir).collect()}
    assert rows[0].simhash16 == rows[1].simhash16
    assert rows[0].cluster_size >= 2


def test_ann_cosine_topk_orders_neighbors(spark, crafted_dir):
    rows = [r for r in q_ann_cosine_topk(spark, crafted_dir).collect()
            if r.query_id == 0]
    order = [r.neighbor_id for r in rows]
    assert order[0] == 10         # identical vector first (cos=1)
    assert order[1] == 12         # near neighbor second
    assert order[-1] == 14        # opposite vector last (cos=-1)
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_ngram_jaccard_hot_shingle_defused(spark, tmp_path):
    """One stop-phrase shingle shared by > _DF_CAP docs must NOT create
    a k^2 pair bucket (the 100 TB skew bomb); genuine duplicate pairs
    (low-df shingles) must still surface."""
    from parsee_pdf_reader_spark.operators.dedup import (
        _DF_CAP,
        q_ngram_jaccard_pairs,
    )

    d = str(tmp_path)
    hot = "click here to subscribe"  # 4 tokens -> 2 hot trigrams
    docs = [
        (i, f"{hot} unique{i}a filler{i}b words{i}c body{i}d tail{i}e",
         "en", "s", 60)
        for i in range(_DF_CAP + 6)   # hot shingles: df > cap
    ]
    dup = "genuine duplicated document body with identical phrasing runs"
    docs += [(900, dup, "en", "s", len(dup)),
             (901, dup, "en", "s", len(dup))]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in q_ngram_jaccard_pairs(spark, d).collect()}
    assert (900, 901) in pairs and pairs[(900, 901)] == 1.0
    # no pair among the hot-shingle docs: their only shared shingles
    # exceeded the df cap and were dropped from the universe
    assert all({a, b} == {900, 901} for a, b in pairs)


def test_ann_near_dup_pairs_finds_identical_vectors(spark, crafted_dir):
    from parsee_pdf_reader_spark.operators.similarity import (
        q_ann_near_dup_pairs,
    )

    pairs = {(r.vec_a, r.vec_b): r.cos_sim
             for r in q_ann_near_dup_pairs(spark, crafted_dir).collect()}
    # identical vectors land in the same LSH bucket and verify at cos=1
    assert pairs.get((0, 10)) == 1.0
    # the orthogonal/opposite vectors never pair with the query family
    assert not any(13 in p or 14 in p for p in pairs)


def test_fingerprint_edit_robustness(spark, tmp_path):
    """Both fingerprint variants survive a small local edit (the min
    shingle is content-defined, not position-defined) — and the
    content-anchored variant agrees with itself across the shifted
    positions a positional stride would break on."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_doc_fingerprint,
        q_doc_fingerprint_cdc,
    )

    base = ("the quarterly consolidated revenue statement shows "
            "a material increase across all operating segments "
            "with amortization adjustments applied consistently")
    edited = base.replace("material", "materrial")  # 1-char insertion
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, base, "en", "s", len(base)),
         (1, edited, "en", "s", len(edited))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    for q in (q_doc_fingerprint, q_doc_fingerprint_cdc):
        rows = {r.doc_id: r.fp for r in q(spark, d).collect()}
        assert rows[0] == rows[1], q.__name__


def test_media_roundtrip(spark):
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    media = make_media_df(spark, docs)
    decoded_df = decode_media(media)
    # generation and decode are one Arrow map each: no pandas map, no
    # shuffle
    plan = decoded_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2, plan
    for absent in ("MapInPandas", "Exchange"):
        assert absent not in plan, plan
    decoded = {r.doc_id: r for r in decoded_df.collect()}
    assert len(decoded) == 12
    for doc_id, r in decoded.items():
        kind, w, h, ch, fr, blob = build_media_blob(doc_id)
        assert r.error is None
        assert r.kind == kind and r.n_bytes == len(blob)
        if kind in ("image", "video"):
            assert (r.width, r.height, r.channels) == (w, h, ch)
        if kind == "video":
            assert r.n_frames == fr


def test_media_corrupt_blob_yields_error_row(spark):
    df = spark.createDataFrame(
        [(99, "image", b"JUNK")],
        "doc_id long, kind string, media binary")
    rows = decode_media(df).collect()
    assert rows[0].error is not None


def test_frame_sample(spark):
    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    media = make_media_df(spark, docs)
    frames = frame_sample(media, every_n=4).collect()
    assert frames, "expected some video frames"
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc_id, idxs in by_doc.items():
        _k, _w, _h, _c, fr, _b = build_media_blob(doc_id)
        assert sorted(idxs) == list(range(0, fr, 4))


def test_media_decode_query_runs(spark):
    rows = media_decode_query(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    assert all(r.error is None for r in rows)


def test_ngram_jaccard_kept_is_persisted(spark, tmp_path):
    """VERDICT r2 item 3: the df-capped shingle table `kept` feeds
    two consumers (sizes + the r7 per-shingle pair expansion, which
    replaced the self-join's two cached-side reads); it must be
    stored so the explode+groupBy+join pipeline executes ONCE and
    every consumer reads the stored rows. The physical plan holds one
    stored relation (a single checkpointed RDD) read by at least two
    ``Scan ExistingRDD`` leaves, and no cache scan."""
    import os

    from parsee_pdf_reader_spark.operators.dedup import (
        q_ngram_jaccard_pairs,
    )

    d = str(tmp_path)
    docs = [(i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}",
             "en", "s", 40) for i in range(8)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    qe = q_ngram_jaccard_pairs(spark, d)._jdf.queryExecution()
    leaves = qe.sparkPlan().collectLeaves()
    stored = [leaves.apply(i) for i in range(leaves.length())
              if leaves.apply(i).nodeName() == "Scan ExistingRDD"]
    assert len(stored) >= 2, qe.sparkPlan().toString()
    assert len({leaf.rdd().id() for leaf in stored}) == 1
    assert "InMemoryTableScan" not in qe.executedPlan().toString()


def test_ngram_jaccard_rescores_rewritten_documents(spark, tmp_path):
    """No stale reuse across calls: a second ``ngram_jaccard_pairs``
    call over a documents path rewritten outside Spark returns the
    DuckDB twin's pairs for the new rows. A ``persist()``ed shingle
    table answered the second call from the first call's cache (the
    cache manager matches plans, not file contents)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parsee_pdf_reader_spark.operators.dedup import (
        q_ngram_jaccard_pairs,
    )
    from parsee_pdf_reader_spark.plans.queries import REGISTRY

    path = tmp_path / "documents.parquet"
    os.makedirs(path)
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat sleeps on the warm mat near the door")

    def write(texts):
        pq.write_table(pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts}), str(path / "part-0.parquet"))

    def twin():
        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"read_parquet('{path}/*.parquet')")
            return sorted(con.execute(
                "select doc_a, doc_b, jaccard from "
                f"({REGISTRY['ngram_jaccard_pairs'][1]})").fetchall())
        finally:
            con.close()

    def spark_rows():
        return sorted(tuple(r) for r in
                      q_ngram_jaccard_pairs(spark, str(tmp_path))
                      .collect())

    def same(got, want):
        assert [r[:2] for r in got] == [r[:2] for r in want]
        assert [r[2] for r in got] == pytest.approx([r[2] for r in want])

    texts = [base, base.replace("lazy", "sleepy"),
             "an unrelated sentence about weather and rivers today"]
    write(texts)
    first = spark_rows()
    assert [r[:2] for r in first] == [(0, 1)]
    same(first, twin())
    write(texts + [base.replace("warm", "cold")])
    second = spark_rows()
    assert [r[:2] for r in second] == [(0, 1), (0, 3), (1, 3)]
    same(second, twin())


def test_dedup_clusters_transitive_closure(spark, crafted_dir):
    """docs 0/1 (exact dups) and 2 (near dup of 0) must land in ONE
    cluster with the min doc_id as canonical; doc 3 (unrelated) must
    not appear (it has no candidate pair)."""
    from parsee_pdf_reader_spark.operators.dedup import q_dedup_clusters

    rows = {r.doc_id: r for r in
            q_dedup_clusters(spark, crafted_dir).collect()}
    assert set(rows) == {0, 1, 2}
    assert all(r.cluster_id == 0 for r in rows.values())
    assert all(r.cluster_size == 3 for r in rows.values())


def _chain_pairs(spark, n, id_type):
    """Path graph 0-1-...-n-1, the longest diameter n nodes can have:
    ~n rounds for label propagation, ~log n for the star rounds.
    String ids are zero-padded so the minimum is node 0 either way."""
    rows = [(i, i + 1) for i in range(n - 1)]
    if id_type == "string":
        rows = [(f"u{a:02d}", f"u{b:02d}") for a, b in rows]
    return spark.createDataFrame(rows, f"doc_a {id_type}, doc_b {id_type}")


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("n, max_star_rounds", [(16, 6), (30, 7)])
def test_cc_paths_agree_on_chains(spark, monkeypatch, n, max_star_rounds,
                                  id_type):
    """Both sides of ``_CC_LOCAL_MAX_EDGES`` give every chain node the
    chain's minimum id and size, and the star rounds stay logarithmic
    in the chain's length."""
    from parsee_pdf_reader_spark.operators import dedup

    as_map = lambda df: {  # noqa: E731
        r.doc_id: (r.cluster_id, r.cluster_size) for r in df.collect()}
    local_stats, star_stats = {}, {}
    local = as_map(dedup.connected_components_df(
        _chain_pairs(spark, n, id_type), stats=local_stats))
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 0)
    star = as_map(dedup.connected_components_df(
        _chain_pairs(spark, n, id_type), stats=star_stats))
    root = 0 if id_type == "long" else "u00"
    assert local == star
    assert len(local) == n
    assert set(local.values()) == {(root, n)}
    assert local_stats == {"edges": n - 1, "path": "local"}, local_stats
    assert star_stats["path"] == "star", star_stats
    assert star_stats["rounds"] <= max_star_rounds, star_stats


def test_cc_local_path_one_action_one_map(spark):
    """Under the bound, building the components runs one SQL execution
    (the store that counts the edges), and the labels come from one
    lazy Arrow map."""
    from parsee_pdf_reader_spark.operators.dedup import (
        connected_components_df,
    )

    pairs = _chain_pairs(spark, 16, "long")
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = store.executionsCount()
    cc = connected_components_df(pairs)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert store.executionsCount() - before == 1
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan


@pytest.mark.parametrize("path", ["local", "star"])
def test_cc_empty_pairs(spark, monkeypatch, path):
    """An empty pair table has no components on either path. Forcing
    the star side takes a negative bound: 0 edges are within a bound of
    0."""
    from parsee_pdf_reader_spark.operators import dedup

    if path == "star":
        monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", -1)
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    stats = {}
    assert dedup.connected_components_df(pairs, stats=stats).collect() == []
    assert stats["path"] == path, stats


def test_text_normalize_strips_controls_and_collapses(spark, tmp_path):
    """Non-vacuous normalization check: control chars removed,
    whitespace runs collapsed, casefold variant consistent."""
    import os

    from parsee_pdf_reader_spark.operators.textstats import (
        q_text_normalize,
    )

    d = str(tmp_path)
    docs = [
        (0, "Hello\x00\x07 World\t\t  MiXeD\x1f Case\n\nEnd ", "en",
         "s", 30),
        (1, "already clean", "en", "s", 13),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in q_text_normalize(spark, d).collect()}
    assert rows[0].norm_text == "Hello World MiXeD Case End"
    assert rows[0].norm_lower == "hello world mixed case end"
    assert rows[0].chars_removed > 0
    assert rows[1].norm_text == "already clean"
    assert rows[1].chars_removed == 0


def test_tfidf_top_terms_ranks_discriminative_tokens(spark, tmp_path):
    """A token unique to one doc must outrank tokens shared by all
    docs, regardless of raw counts."""
    import os

    from parsee_pdf_reader_spark.operators.textstats import (
        q_tfidf_top_terms,
    )

    d = str(tmp_path)
    common = "shared words appear everywhere always " * 3
    docs = [
        (0, common + "uniquezero", "en", "s", 40),
        (1, common + "uniqueone uniqueone", "en", "s", 40),
        (2, common, "en", "s", 40),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = q_tfidf_top_terms(spark, d).collect()
    top = {}
    for r in rows:
        top.setdefault(r.doc_id, []).append((r.tok, r.tfidf))
    assert top[0][0][0] == "uniquezero"  # df=1 beats the common words
    assert top[1][0][0] == "uniqueone"
    # common words score 0 (ln(3/3)): every doc-2 term ties at 0
    assert all(abs(s) < 1e-9 for _t, s in top[2])


def test_lm_buckets_rescore_rewritten_documents(spark, tmp_path):
    """No stale reuse across calls: a second ``lm_ppl_buckets`` call
    over a documents path rewritten outside Spark returns the DuckDB
    twin's buckets for the new rows. A score table shared across calls
    by (session, path) served the first call's scores."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parsee_pdf_reader_spark.operators.textstats import (
        q_lm_ppl_buckets,
    )
    from parsee_pdf_reader_spark.plans.queries import REGISTRY

    path = tmp_path / "documents.parquet"
    os.makedirs(path)

    def write(phrase, n):
        texts = [" ".join([phrase] * (i + 1)) + f" tail{i % 3}"
                 for i in range(n)]
        pq.write_table(pa.table({"doc_id": pa.array(range(n), pa.int64()),
                                 "text": texts}),
                       str(path / "part-0.parquet"))

    def twin():
        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"read_parquet('{path}/*.parquet')")
            return sorted(con.execute(
                "select doc_id, avg_logprob, ppl_bucket from "
                f"({REGISTRY['lm_ppl_buckets'][1]})").fetchall())
        finally:
            con.close()

    def spark_rows():
        return sorted(tuple(r) for r in
                      q_lm_ppl_buckets(spark, str(tmp_path)).collect())

    write("the quick brown fox jumps over the lazy dog", 6)
    first = spark_rows()
    assert first == twin()
    write("a stale score table would answer for these rows", 9)
    second = spark_rows()
    assert len(second) == 9
    assert second == twin()


def test_kmeans_assign_refinement_nonvacuous(spark):
    """The trained-centroid assignment must (a) cover every vector,
    (b) use more than one cluster, and (c) actually differ from the
    seed-centroid assignment for some vectors — otherwise the unrolled
    Lloyd round proves nothing."""
    from pyspark.sql import Window

    from parsee_pdf_reader_spark.operators.similarity import (
        _KM_K, _KM_Q, q_kmeans_assign,
    )

    final = {r.vec_id: r.cluster
             for r in q_kmeans_assign(spark, SF).collect()}
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    assert len(final) == n
    assert len(set(final.values())) > 1

    # seed assignment (round 0, before the update step)
    xq = F.transform("embedding",
                     lambda x: F.round(x.cast("double"), _KM_Q))
    vecs = emb.select("vec_id", xq.alias("v"))
    cents = (vecs.where(F.col("vec_id") < _KM_K)
             .select(F.col("vec_id").alias("cluster"),
                     F.col("v").alias("c")))
    dist = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    seed = {r.vec_id: r.cluster for r in (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "cluster", dist.alias("dist"))
        .withColumn("rnk", F.row_number().over(w))
        .where("rnk = 1").collect())}
    moved = sum(1 for v in final if final[v] != seed[v])
    assert moved > 0, "Lloyd update changed no assignment"


def test_kmeans_rounds_parameterized(spark):
    """kmeans_assign_df(rounds=N): more Lloyd rounds still cover every
    vector with >1 cluster, and the extra refinement is allowed to
    (and here does) move assignments vs rounds=1."""
    from parsee_pdf_reader_spark.operators.similarity import (
        kmeans_assign_df,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    r1 = {r.vec_id: r.cluster
          for r in kmeans_assign_df(emb, rounds=1).collect()}
    r3 = {r.vec_id: r.cluster
          for r in kmeans_assign_df(emb, rounds=3).collect()}
    assert set(r1) == set(r3) and len(r1) == emb.count()
    assert len(set(r3.values())) > 1


def test_corpus_keep_filter_every_criterion_bites(spark):
    """The composed curation verdict is only evidence if each
    criterion independently rejects at least one document at the
    shipped thresholds (sf0.01 distribution: ~24 dedup drops, ~43
    low-quality, 75 zh-language, ~74 out-of-length)."""
    from parsee_pdf_reader_spark.operators.curation import (
        q_corpus_keep_filter,
    )

    rows = q_corpus_keep_filter(spark, SF).collect()
    assert rows
    assert any(r.keep for r in rows)
    for flag in ("dedup_keep", "quality_ok", "lang_ok", "len_ok"):
        assert any(not getattr(r, flag) for r in rows), flag
    # r6 extended the conjunction with the round-5 signals
    # (boiler/contam/sample) and then the span/LM signals (dup_ok,
    # lm_ok); the original four criteria still bite independently
    # (asserted above) and keep is the FULL conjunction
    for r in rows:
        assert r.keep == (r.dedup_keep and r.quality_ok
                          and r.lang_ok and r.len_ok
                          and r.boiler_ok and r.dup_ok and r.lm_ok
                          and r.contam_ok and r.sampled)


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


def test_token_budget_and_repetition_stats(spark):
    """corpus_token_budget: shares sum to 1, cum_share is monotone in
    largest-first order and ends at 1. doc_repetition_stats: values in
    [0,1], and this lexicon-heavy corpus repeats bigrams (non-vacuous)."""
    from parsee_pdf_reader_spark.operators.textstats import (
        q_corpus_token_budget, q_doc_repetition_stats,
    )

    rows = (q_corpus_token_budget(spark, SF)
            .orderBy(F.desc("lang_tokens"), "lang").collect())
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert abs(rows[-1].cum_share - 1.0) < 1e-4
    for a, b in zip(rows, rows[1:]):
        assert b.cum_share >= a.cum_share >= b.share

    reps = q_doc_repetition_stats(spark, SF).collect()
    assert reps
    for r in reps:
        assert 0.0 <= r.top_word_share <= 1.0
        assert 0.0 <= r.dup_2gram_frac <= 1.0
    assert any(r.dup_2gram_frac > 0 for r in reps)


def test_resize_plan_over_real_media_pipeline(spark):
    """resize_plan rides decode_media's output (the real binary-column
    path): every decodable row gets a fit-within-224 plan — aspect
    preserved (within floor rounding), never upscaled, clamped to >=1;
    error rows carry nulls. Both a will_resize and a no-resize case
    must occur (dims are 16..268, straddling the 224 box)."""
    from parsee_pdf_reader_spark.operators.multimodal import (
        decode_media, make_media_df, resize_plan,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    rows = resize_plan(decode_media(make_media_df(spark, docs))).collect()
    ok = [r for r in rows if r.error is None and r.width is not None]
    assert ok
    for r in ok:
        assert 1 <= r.out_w <= 224 and 1 <= r.out_h <= 224
        assert r.out_w <= r.width and r.out_h <= r.height
        assert r.out_bytes == r.out_w * r.out_h * r.channels
        if r.will_resize:
            assert max(r.width, r.height) > 224
        else:
            assert (r.out_w, r.out_h) == (r.width, r.height)
    assert any(r.will_resize for r in ok)
    assert any(not r.will_resize for r in ok)


def test_simhash_near_pairs_exact_recall(spark, tmp_path):
    """Pigeonhole recall proof on a small corpus: the banded join must
    produce EXACTLY the brute-force set of pairs with hamming <= 3
    (4 bands, k=3 < 4 guarantees a shared band for every such pair)."""
    from parsee_pdf_reader_spark.operators.dedup import (
        q_simhash_near_pairs, simhash_col,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

    d = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    docs.write.parquet(os.path.join(d, "documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.hamming
           for r in q_simhash_near_pairs(spark, d).collect()}
    hs = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash_col(tokens("text")).alias("sh")).collect()}
    ids = sorted(hs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(hs[a] ^ hs[b]).count("1")
            if ham <= 3:
                want[(a, b)] = ham
    assert got == want and len(want) > 0


def test_hash_width_prefix_property(spark):
    """Property over widths: for any pair n < m, the n low bits of the
    m-bit simhash equal the n-bit simhash (same md5-derived bit
    stream), and likewise for LSH plane buckets — so widening in
    production never invalidates narrower persisted signatures."""
    from parsee_pdf_reader_spark.operators.dedup import simhash_col
    from parsee_pdf_reader_spark.operators.similarity import (
        lsh_bucket_col,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta gamma{i % 3} delta epsilon{i}")
         for i in range(6)], "doc_id long, text string")
    widths = [1, 7, 16, 33, 63]
    row = docs.select(
        *[simhash_col(tokens("text"), n).alias(f"h{n}") for n in widths]
    ).collect()
    for r in row:
        for i, n in enumerate(widths):
            for m in widths[i + 1:]:
                assert r[f"h{m}"] & ((1 << n) - 1) == r[f"h{n}"], (n, m)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(6)
    pw = [1, 8, 24, 63]
    rows = emb.select(
        *[lsh_bucket_col(n).alias(f"b{n}") for n in pw]).collect()
    for r in rows:
        for i, n in enumerate(pw):
            for m in pw[i + 1:]:
                assert r[f"b{m}"] & ((1 << n) - 1) == r[f"b{n}"], (n, m)


def test_media_byte_features_against_pure_python(spark, tmp_path):
    """Independent check (beyond the DuckDB twin): entropy/mean/
    distinct over the first 256 utf-8 bytes recomputed in pure Python
    must match the JVM-side hex arithmetic to the rounding grain."""
    import math

    from parsee_pdf_reader_spark.operators.multimodal import (
        q_media_byte_features,
    )

    d = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in q_media_byte_features(spark, d).collect()}
    for row in docs.select("doc_id", "text").collect():
        b = row.text.encode("utf-8")[:256]
        n = len(b)
        counts = {}
        for x in b:
            counts[x] = counts.get(x, 0) + 1
        ent = -sum((c / n) * math.log(c / n) for c in counts.values())
        g = got[row.doc_id]
        assert g.n == n
        assert abs(g.mean_byte - round(sum(b) / n, 4)) < 1e-9
        assert abs(g.distinct_ratio - round(len(counts) / n, 6)) < 1e-9
        assert abs(g.entropy - ent) < 2e-6, (g.entropy, ent)


def test_dup_span_stats_planted_spans(spark):
    """Plant a shared 18-token span across two docs: 3 overlapping
    duplicated 16-gram windows must union to EXACTLY 18 covered tokens
    in each (not 3*16); an all-unique doc and a sub-window doc report
    zero; an internally-repeated doc is fully covered."""
    from parsee_pdf_reader_spark.operators.dedup import (
        _SPAN_N, dup_span_stats_df,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

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
    out = {r.doc_id: r for r in dup_span_stats_df(
        docs.withColumn("toks", tokens("text"))).collect()}
    assert len(out) == 5
    assert (out[1].n_tokens, out[1].dup_tokens) == (22, 18)
    assert (out[2].n_tokens, out[2].dup_tokens) == (24, 18)
    assert out[1].dup_frac == round(18 / 22, 6)
    assert (out[3].dup_tokens, out[4].dup_tokens) == (0, 0)
    assert (out[5].n_tokens, out[5].dup_tokens, out[5].dup_frac) == \
        (32, 32, 1.0)


def test_ngram_lm_score_ranks_ood_text_lower(spark):
    """The corpus-trained bigram LM must rank in-distribution text
    (bigrams the corpus repeats) above out-of-distribution gibberish
    (every bigram unseen elsewhere), and a doc with <2 tokens gets the
    zero-bigram sentinel row."""
    from parsee_pdf_reader_spark.operators.textstats import (
        ngram_lm_score_df,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

    common = "the quick brown fox jumps over the lazy dog"
    rows = ([(i, common) for i in range(1, 9)]
            + [(20, "zxq vnm plw qrt bbk jjw ooz yyx mmv ccd"),
               (21, "single")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_lm_score_df(
        docs.withColumn("toks", tokens("text"))).collect()}
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


def test_simhash_near_pairs_wide_recall(spark, tmp_path):
    """Manku pigeonhole recall at PRODUCTION parameters (VERDICT r4
    item 1): 63-bit hash, 4 x 16-bit bands, k=3 < 4 bands. The banded
    join must produce EXACTLY the brute-force set of hamming<=3 pairs
    — including planted near-dup families whose hashes differ in only
    a few bits — and, unlike the saturated 16-bit twin, candidate
    volume collapses to ~the true near-dups."""
    from parsee_pdf_reader_spark.operators.dedup import (
        q_simhash_near_pairs_wide, simhash_col,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

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
        "doc_id", simhash_col(tokens("text"), 63).alias("sh")).collect()}
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


def test_decontam_against_separate_benchmark_table(spark):
    from parsee_pdf_reader_spark.operators.curation import (
        decontam_against,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

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
           decontam_against(train.withColumn("toks", tokens("text")),
                            bench.withColumn("toks", tokens("text")),
                            min_hits=3).collect()}
    assert out[1].contaminated and out[1].n_overlap >= 3
    assert not out[2].contaminated and out[2].n_overlap == 0


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
