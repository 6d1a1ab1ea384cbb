"""Independent brute-force parity for the round-6 operators.

The DuckDB twins share their derivation with the Spark plans (same
author, same algorithm sketch), so an algorithmic misunderstanding
could pass the gate on both sides. These tests re-derive the expected
outputs with straight-line Python over seeded-random corpora — a third
implementation that shares nothing with either engine's plan.
"""

import math
import random

from pyspark.sql import functions as F  # noqa: F401 (fixture parity)

VOCAB = [f"t{i}" for i in range(8)]  # tiny vocab => frequent collisions


def _random_docs(seed: int, n_docs: int = 60, max_len: int = 40):
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        length = rng.randrange(0, max_len + 1)
        docs.append((i, " ".join(rng.choice(VOCAB)
                                 for _ in range(length))))
    return docs


def _brute_dup_span(docs, n):
    """Straight-line duplicated-span coverage: every n-token window
    whose exact token tuple occurs >= 2 times corpus-wide (counting
    in-doc repeats) marks its n positions covered."""
    from collections import Counter

    toks = {d: t.split() for d, t in docs}
    grams = Counter()
    for tk in toks.values():
        for i in range(max(len(tk) - n + 1, 0)):
            grams[tuple(tk[i:i + n])] += 1
    out = {}
    for d, tk in toks.items():
        covered = set()
        for i in range(max(len(tk) - n + 1, 0)):
            if grams[tuple(tk[i:i + n])] >= 2:
                covered.update(range(i, i + n))
        nt = len(tk)
        out[d] = (nt, len(covered),
                  round(len(covered) / max(nt, 1), 6))
    return out


def test_dup_span_stats_matches_bruteforce(spark):
    from parsee_pdf_reader_spark.operators.dedup import (
        dup_span_stats_df,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

    n = 4  # small window + tiny vocab: dense collision regime
    docs = _random_docs(20250817)
    expect = _brute_dup_span(docs, n)
    # the regime is non-trivial: some docs partially covered
    fracs = {v[2] for v in expect.values()}
    assert any(0.0 < f < 1.0 for f in fracs), fracs
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
           for r in dup_span_stats_df(
               df.withColumn("toks", tokens("text")), n=n).collect()}
    assert got == expect, {k: (got[k], expect[k]) for k in got
                           if got[k] != expect[k]}


def _brute_lm(docs):
    """Straight-line add-1 bigram LM over the corpus itself, with the
    operator's exact quantization contract (9-dp terms, exact sum,
    6-dp mean compared to 1e-6)."""
    from collections import Counter

    toks = {d: t.lower().split() for d, t in docs}
    c1, c12 = Counter(), Counter()
    vocab = set()
    for tk in toks.values():
        vocab.update(tk)
        for a, b in zip(tk, tk[1:]):
            c1[a] += 1
            c12[(a, b)] += 1
    v = len(vocab)
    out = {}
    for d, tk in toks.items():
        pairs = list(zip(tk, tk[1:]))
        if not pairs:
            out[d] = (0, 0.0)
            continue
        s = sum(round(math.log((c12[p] + 1.0) / (c1[p[0]] + v)), 9)
                for p in pairs)
        out[d] = (len(pairs), s / len(pairs))
    return out


def test_ngram_lm_score_matches_bruteforce(spark):
    from parsee_pdf_reader_spark.operators.textstats import (
        ngram_lm_score_df,
    )
    from parsee_pdf_reader_spark.plans.queries import tokens

    docs = _random_docs(42424242, n_docs=50, max_len=30)
    expect = _brute_lm(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob)
           for r in ngram_lm_score_df(
               df.withColumn("toks", tokens("text"))).collect()}
    assert set(got) == set(expect)
    for d in expect:
        assert got[d][0] == expect[d][0], d
        assert abs(got[d][1] - expect[d][1]) < 1e-6, (
            d, got[d], expect[d])
    # non-degenerate: scores vary across docs
    assert len({g[1] for g in got.values()}) > 5


def _brute_index_dedup(hist, new):
    """Straight-line history-index matching via the operator's own
    band primitive evaluated per doc through Spark? No — this brute
    force recomputes MinHash bands in pure Python with the same md5
    arithmetic (hashlib), sharing no Spark/DuckDB expression code."""
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def bands(text, sig_k=12, n_bands=3, band_r=4):
        tk = [t for t in text.split() if t]
        if len(tk) < 3:
            sh = [" ".join(tk)]
        else:
            seen, sh = set(), []
            for i in range(len(tk) - 2):
                g = " ".join(tk[i:i + 3])
                if g not in seen:
                    seen.add(g)
                    sh.append(g)
        sig = [min(md5(f"{j}:{s}") for s in sh)
               for j in range(sig_k)]
        return {(b, md5(f"{b}|" + "|".join(
            sig[b * band_r:(b + 1) * band_r])))
            for b in range(n_bands)}

    index = {}
    for d, t in hist:
        for key in bands(t):
            index.setdefault(key, set()).add(d)
    out = {}
    for d, t in new:
        hit_bands = set()
        matches = set()
        for key in bands(t):
            if key in index:
                hit_bands.add(key[0])
                matches.update(index[key])
        out[d] = (len(hit_bands),
                  min(matches) if matches else None,
                  not hit_bands)
    return out


def test_dedup_against_index_matches_bruteforce(spark):
    from parsee_pdf_reader_spark.operators.dedup import (
        band_index_df, dedup_against_index,
    )

    rng = random.Random(7)
    # longer docs over a wider vocab + planted replays/near-dups so
    # both match and no-match regimes occur
    wide = [f"w{i}" for i in range(40)]
    mk = lambda: " ".join(rng.choice(wide) for _ in range(25))  # noqa
    hist = [(i, mk()) for i in range(10)]
    new = [(100 + i, mk()) for i in range(8)]
    new.append((200, hist[3][1]))                    # exact replay
    new.append((201, hist[5][1] + " extraword"))     # near-dup
    expect = _brute_index_dedup(hist, new)
    hdf = spark.createDataFrame(hist, "doc_id long, text string")
    ndf = spark.createDataFrame(new, "doc_id long, text string")
    got = {r.doc_id: (r.n_hit_bands, r.matched_doc, r.is_new)
           for r in dedup_against_index(
               ndf, band_index_df(hdf)).collect()}
    assert got == expect, {k: (got[k], expect[k]) for k in got
                           if got[k] != expect[k]}
    assert not got[200][2] and got[200][0] == 3  # replay: all bands
