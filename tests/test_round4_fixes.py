"""Round-4 regression tests: ADVICE-r3 defects + VERDICT-r3 item 6
(connected-components observe probe + large-star/small-star)."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# ADVICE r3 (medium): LZW encoder must CLEAR at the 12-bit boundary
# ---------------------------------------------------------------------------

def test_lzw_roundtrip_past_12bit_boundary():
    """High-entropy payloads mint a fresh dictionary entry almost every
    step; past ~3.8K entries the encoder used to pack 13-bit codes into
    12-bit fields (silent corruption, 'bad LZW code' on decode). With
    the CLEAR(256)/reset at next_code=4096, arbitrarily large payloads
    round-trip. 30 KB of seeded random bytes crosses the boundary
    several times over."""
    from parsee_pdf_reader_spark.sources.pdf_mini import _lzw_decode
    from parsee_pdf_reader_spark.sources.synth import _lzw_encode

    rng = random.Random(7)
    data = bytes(rng.randrange(256) for _ in range(30000))
    assert _lzw_decode(_lzw_encode(data)) == data
    # compressible payload that still overflows the dictionary
    data2 = b"".join(bytes([i % 251, (i * 7) % 253]) for i in range(20000))
    assert _lzw_decode(_lzw_encode(data2)) == data2


# ---------------------------------------------------------------------------
# ADVICE r3 (low): fast_line must fall back on any multi-char cell
# ---------------------------------------------------------------------------

def test_fast_line_multichar_cells_fall_back():
    """Cells ['a ', '', 'c'] join to a 3-char line over 3 cells, so the
    old total-length guard let the regex fast path run — splitting on
    the embedded space and mis-slicing coordinates. The reference
    treats each layout char as an atomic unit ('a ' is not a flush
    char, pdf_page.py:135-151), so the whole line is ONE token 'a c'
    spanning all three cells."""
    from parsee_pdf_reader_spark.kernel.engine import tokenize
    from parsee_pdf_reader_spark.sources import layout_codec as codec

    line = [
        codec.Char(0, 5, 700, 710, 10.0, False, "a "),
        codec.Char(50, 60, 700, 710, 10.0, False, ""),
        codec.Char(100, 110, 700, 710, 10.0, False, "c"),
    ]
    toks, _ = tokenize([("box", [line])], 1)
    assert [t.text for t in toks] == ["a c"]
    assert toks[0].x0 == 0 and toks[0].x1 == 110


# ---------------------------------------------------------------------------
# ADVICE r3 (low): hive partition dirs with non-canonical values
# ---------------------------------------------------------------------------

def test_checkpoint_hive_noncanonical_partition_dirs(spark, tmp_path):
    """Dirs p=007 / p=8: Spark infers p as int, so run()'s
    cast(p as string) filter sees '7', never the raw '007'. The file-
    index fast path must normalize listed values through the inferred
    type, or the 007 partition writes zero rows yet gets ledgered
    'done'."""
    from parsee_pdf_reader_spark.checkpoint import CheckpointedExtraction
    from parsee_pdf_reader_spark.sources.synth import synthesize_pages_df

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(8)
    pages = synthesize_pages_df(spark, docs)
    inp = os.path.join(str(tmp_path), "pages")
    outp = os.path.join(str(tmp_path), "extracted")
    pages.limit(4).write.parquet(os.path.join(inp, "p=007"))
    pages.orderBy(F.desc("url")).limit(4).write.parquet(
        os.path.join(inp, "p=8"))

    ck = CheckpointedExtraction(spark, inp, outp, run_id="t1",
                                partition_expr="p")
    parts = ck.pending_partitions()
    assert parts == ["7", "8"], parts
    done = ck.run()
    assert sorted(done) == ["7", "8"]
    prog = spark.read.parquet(os.path.join(outp, "_progress"))
    by_part = {r.part: r for r in prog.collect()}
    assert by_part["7"].rows_in == 4 and by_part["7"].rows_out >= 4
    assert by_part["8"].rows_in == 4 and by_part["8"].rows_out >= 4


# ---------------------------------------------------------------------------
# kmeans_assign (round-4 addition): Lloyd refinement is non-vacuous
# ---------------------------------------------------------------------------

def test_kmeans_assign_refinement_nonvacuous(spark):
    """The trained-centroid assignment must (a) cover every vector,
    (b) use more than one cluster, and (c) actually differ from the
    seed-centroid assignment for some vectors — otherwise the unrolled
    Lloyd round proves nothing."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from parsee_pdf_reader_spark.operators.similarity import (
        _KM_K, _KM_Q, q_kmeans_assign,
    )

    sf = "/root/testdata/sf0.001"
    final = {r.vec_id: r.cluster
             for r in q_kmeans_assign(spark, sf).collect()}
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
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


def test_corpus_keep_filter_every_criterion_bites(spark):
    """The composed curation verdict is only evidence if each
    criterion independently rejects at least one document at the
    shipped thresholds (sf0.01 distribution: ~24 dedup drops, ~43
    low-quality, 75 zh-language, ~74 out-of-length)."""
    from parsee_pdf_reader_spark.operators.curation import (
        q_corpus_keep_filter,
    )

    rows = q_corpus_keep_filter(spark, "/root/testdata/sf0.001").collect()
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


def test_kmeans_rounds_parameterized(spark):
    """kmeans_assign_df(rounds=N): more Lloyd rounds still cover every
    vector with >1 cluster, and the extra refinement is allowed to
    (and here does) move assignments vs rounds=1."""
    from parsee_pdf_reader_spark.operators.similarity import (
        kmeans_assign_df,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    r1 = {r.vec_id: r.cluster
          for r in kmeans_assign_df(emb, rounds=1).collect()}
    r3 = {r.vec_id: r.cluster
          for r in kmeans_assign_df(emb, rounds=3).collect()}
    assert set(r1) == set(r3) and len(r1) == emb.count()
    assert len(set(r3.values())) > 1


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
    import os

    from parsee_pdf_reader_spark.operators.dedup import (
        _toks, q_simhash_near_pairs, simhash_col,
    )

    d = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    docs.write.parquet(os.path.join(d, "documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.hamming
           for r in q_simhash_near_pairs(spark, d).collect()}
    hs = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash_col(_toks()).alias("sh")).collect()}
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
    from parsee_pdf_reader_spark.operators.dedup import (
        _toks, simhash_col,
    )
    from parsee_pdf_reader_spark.operators.similarity import (
        lsh_bucket_col,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta gamma{i % 3} delta epsilon{i}")
         for i in range(6)], "doc_id long, text string")
    widths = [1, 7, 16, 33, 63]
    row = docs.select(
        *[simhash_col(_toks(), n).alias(f"h{n}") for n in widths]
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
    import os

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
