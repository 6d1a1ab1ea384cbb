"""Dedup-stack evaluation harness (VERDICT r4 item 8): plant
deterministic near-dup families into a corpus, then measure each
candidate generator's recall against the planted truth.

This is an EVALUATION surface, not a production query: a real
deployment runs it on a sampled slice to validate parameter choices
(bands, rows, hash width, hamming bound) before a 100 TB pass, exactly
like the Manku 2007 paper's parameter-sweep tables. The planted
variants are small token edits, so their true Jaccard/hamming
similarity sits well inside each method's design envelope — 100%
planted recall at the shipped parameters is the acceptance bar
(``test_dedup_stack_planted_recall``), while the ``n_extra`` column
surfaces how much additional (unplanted, possibly genuine) pairing
each method emits on the same corpus.

The harness reuses the REGISTERED query implementations byte-for-byte
(it writes the planted corpus as a documents table and calls the same
functions the driver gate runs) — it cannot drift from what ships.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from parsee_pdf_reader_spark.plans.queries import documents, tokens


def plant_near_dup_corpus(spark: SparkSession, docs: DataFrame,
                          out_dir: str, n_families: int = 12
                          ) -> DataFrame:
    """Write ``out_dir/documents.parquet`` = ``docs`` plus one planted
    near-dup variant for each of the ``n_families`` smallest doc_ids,
    alternating two edit types (append a rare token / drop the last
    token). Returns the planted truth as (doc_a, doc_b, edit)
    with doc_a < doc_b. Deterministic — no RNG, ids derive from the
    max existing id."""
    base = (docs.select("doc_id", "text")
            .orderBy("doc_id").limit(n_families).collect())
    next_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    variants, planted = [], []
    for k, row in enumerate(base):
        vid = next_id + k
        if k % 2 == 0:
            vtext, edit = row.text + " zqx", "append_token"
        else:
            cut = row.text.rfind(" ")
            vtext, edit = (row.text[:cut] if cut > 0
                           else row.text + " zqy"), "drop_token"
        variants.append((vid, vtext))
        planted.append((row.doc_id, vid, edit))
    corpus = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(variants, "doc_id long, text string"))
    corpus.write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet"))
    return spark.createDataFrame(
        planted, "doc_a long, doc_b long, edit string")


def dedup_recall_report(spark: SparkSession, sf_dir: str,
                        planted: DataFrame) -> DataFrame:
    """One row per shipped candidate generator over the planted
    corpus at ``sf_dir``: (method, n_planted, n_eligible, n_found,
    n_emitted, n_extra, recall).

    ``n_eligible`` qualifies the truth by each method's CONTRACT —
    recall is only meaningful against pairs the method promises to
    find:

    - MinHash-LSH (and its verified composition) promises high-Jaccard
      pairs; every planted edit is a one-token change, so all planted
      pairs are eligible;
    - SimHash banding promises EXACTLY the pairs within
      hamming <= max_ham of the 63-bit hash (the Manku pigeonhole —
      proven exhaustively in ``test_simhash_near_pairs_wide_recall``);
      a token edit that moves the frequency-weighted hash further than
      that is outside the envelope by design, so eligibility is
      computed from the pair's ACTUAL hamming distance.

    ``recall`` = n_found / n_eligible and the acceptance bar is 1.0
    for every method. ``n_extra`` = emitted-but-unplanted pairs — not
    necessarily false positives (the base corpus can contain genuine
    near-dups); the verify stage's extras carry exact Jaccard evidence
    by construction."""
    from parsee_pdf_reader_spark.operators.dedup import (
        q_dedup_minhash_lsh, q_dedup_verify_pipeline,
        q_simhash_near_pairs_wide, simhash_col,
    )

    truth = planted.select(
        F.least("doc_a", "doc_b").alias("lo"),
        F.greatest("doc_a", "doc_b").alias("hi"))
    # simhash envelope: planted pairs within hamming <= 3 at 63 bits
    hashes = (spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", simhash_col(tokens("text"), 63).alias("sh")))
    ha = hashes.select(F.col("doc_id").alias("lo"),
                       F.col("sh").alias("sh_a"))
    hb = hashes.select(F.col("doc_id").alias("hi"),
                       F.col("sh").alias("sh_b"))
    sim_truth = (truth.join(ha, "lo").join(hb, "hi")
                 .where(F.bit_count(
                     F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3)
                 .select("lo", "hi"))

    methods = [
        ("minhash_lsh", q_dedup_minhash_lsh, truth),
        ("minhash_lsh_verified", q_dedup_verify_pipeline, truth),
        ("simhash_wide_bands", q_simhash_near_pairs_wide, sim_truth),
    ]
    reports = []
    for name, fn, eligible in methods:
        pairs = fn(spark, sf_dir).select(
            F.least("doc_a", "doc_b").alias("lo"),
            F.greatest("doc_a", "doc_b").alias("hi")).distinct()
        hit = pairs.join(eligible, ["lo", "hi"], "left_semi")
        stats = (pairs.agg(F.count(F.lit(1)).alias("n_emitted"))
                 .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_found")))
                 .crossJoin(eligible.agg(
                     F.count(F.lit(1)).alias("n_eligible")))
                 .crossJoin(truth.agg(
                     F.count(F.lit(1)).alias("n_planted"))))
        reports.append(stats.select(
            F.lit(name).alias("method"), "n_planted", "n_eligible",
            "n_found", "n_emitted",
            (F.col("n_emitted") - F.col("n_found")).alias("n_extra"),
            F.round(F.col("n_found") / F.col("n_eligible"), 4)
            .alias("recall")))
    return reduce(lambda a, b: a.unionByName(b), reports)


# ---------------------------------------------------------------------------
# gate-registered recall invariant: the query AUGMENTS the corpus with
# planted exact duplicates (doc_id + 1,000,000 copies of the first 30
# docs) IN BOTH ENGINES IDENTICALLY, then asserts every candidate
# generator finds 100% of the planted pairs — identical text means
# identical shingles, identical MinHash signatures, and identical
# SimHash (hamming 0), so recall must be exactly 1.0. This puts the
# recall harness itself under the driver's cross-engine gate: a future
# change that breaks any generator's self-match property (hashing,
# banding, join keys) flips the recall column and the gate goes red.
# (The raw test tables carry no exact dups, so the truth is planted
# rather than discovered; near-dup truths would be circular — the
# verified-pair set is derived FROM the minhash candidates.)
# ---------------------------------------------------------------------------

_PLANT_N = 30          # plant copies of doc_id < 30
_PLANT_OFFSET = 1000000


def _on_aug(sql: str) -> str:
    """Retarget a registered twin's SQL at the augmented corpus: the
    twins read `from documents`; the recall twin evaluates them over
    the planted-duplicates CTE instead. Controlled replacement — both
    SQL texts are generated in this repo and reference no other
    relation."""
    out = sql.replace("from documents", "from aug")
    assert "from documents" not in out and "from aug" in out
    return out


def _recall_sql() -> str:
    from parsee_pdf_reader_spark.operators.dedup import (
        _MINHASH_PAIRS_SQL, _sh_pairs_sql,
    )

    methods = [
        ("minhash_lsh", _on_aug(_MINHASH_PAIRS_SQL)),
        ("simhash_wide_bands", _on_aug(_sh_pairs_sql(63, 16, 3))),
    ]
    parts = []
    for label, method_sql in methods:
        parts.append(f"""
        select '{label}' as method,
               (select count(*) from truth) as n_truth,
               (select count(*)
                from truth t
                join ({method_sql}) m
                  on m.doc_a = t.doc_a and m.doc_b = t.doc_b) as n_found
        """)
    body = " union all ".join(parts)
    return f"""
    with aug as (
      select doc_id, text from documents
      union all
      select doc_id + {_PLANT_OFFSET} as doc_id, text
      from documents where doc_id < {_PLANT_N}
    ),
    truth as (
      select doc_id as doc_a, doc_id + {_PLANT_OFFSET} as doc_b
      from documents where doc_id < {_PLANT_N}
    )
    select method, n_truth, n_found,
           round(n_found / cast(n_truth as double), 4) as recall
    from ({body}) r
    """


def q_dedup_recall_exact_dups(spark, sf_dir):
    """Per-generator recall over planted exact duplicates (see module
    comment): one row per candidate generator with n_truth, n_found,
    recall — the gate asserts the full table hash, so recall must be
    1.0 in BOTH engines for every method.

    Scale: the augmentation is a union of a filtered slice (no
    shuffle); each method contributes a semi-join of the (small) truth
    pair set against its candidate pairs plus two 1-row aggregates.
    The per-method generators carry their own already-audited plans."""
    from parsee_pdf_reader_spark.operators.dedup import (
        minhash_pairs_df, minhash_signatures_df, simhash_near_pairs,
    )

    docs = documents(spark, sf_dir).select("doc_id", "text", "toks")
    planted_src = docs.where(F.col("doc_id") < _PLANT_N)
    aug = docs.unionByName(planted_src.select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text",
        "toks"))
    truth = planted_src.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_b"))
    methods = [
        ("minhash_lsh",
         lambda: minhash_pairs_df(minhash_signatures_df(aug))),
        ("simhash_wide_bands",
         lambda: simhash_near_pairs(aug, nbits=63, band_bits=16,
                                    max_ham=3)),
    ]
    outs = []
    for name, mk in methods:
        pairs = mk().select("doc_a", "doc_b")
        found = truth.join(pairs, ["doc_a", "doc_b"], "left_semi")
        stats = (truth.agg(F.count(F.lit(1)).alias("n_truth"))
                 .crossJoin(found.agg(
                     F.count(F.lit(1)).alias("n_found"))))
        outs.append(stats.select(
            F.lit(name).alias("method"), "n_truth", "n_found",
            F.round(F.col("n_found") / F.col("n_truth"), 4)
            .alias("recall")))
    return reduce(lambda x, y: x.unionByName(y), outs)


def _register_recall_row():
    from parsee_pdf_reader_spark.plans.queries import register

    register("dedup_recall_exact_dups",
             _recall_sql())(q_dedup_recall_exact_dups)


_register_recall_row()
