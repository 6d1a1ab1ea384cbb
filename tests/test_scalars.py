"""Scalar functions: Spark column exprs == reference helpers == DuckDB twins."""

import duckdb
import pytest
from pyspark.sql import functions as F

from parsee_pdf_reader_spark.functions import oracle as O
from parsee_pdf_reader_spark.functions import scalars as S

EDGE_CASES = [
    "1,234", "1.234", "1,5", "(2,0)", "—3", "12%", "abc", "", " ",
    "(in millions)", "1.2.3", ".5", "5.", "1234,567", "(23.4%)", "- 12",
    "−7", "3/4", "Total revenues", "2023", "(1)", "(a)", "1,234.56",
    "1.234,56", "€ 1.000", "$-5", "12 345", "–0.5", "0", "00", "%",
    "(  )", "((7))", "10.000.000", "1,000,000", "a1b2", "NaN", "None",
    "£9,999", "¥123", "45.", ".,", ",", ".", "(%)", "7 %", "x",
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = list(EDGE_CASES)
    # add real-ish tokens from the driver testdata documents table
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("t"))
        .limit(3000)
        .collect()
    )
    rows += [r.t for r in toks]
    return rows


def _spark_eval(spark, corpus, make_col):
    df = spark.createDataFrame([(c,) for c in corpus], ["s"])
    return [r.v for r in df.select(make_col(F.col("s")).alias("v")).collect()]


def _duck_eval(corpus, sql_expr_fn):
    con = duckdb.connect()
    con.execute("create table t(i int, s varchar)")
    con.executemany("insert into t values (?, ?)", list(enumerate(corpus)))
    q = f"select {sql_expr_fn('s')} as v from t order by i"
    return [r[0] for r in con.execute(q).fetchall()]


CASES = [
    ("letter_len", S.letter_len, O.letter_len, lambda h: h.letter_len),
    ("word_count", S.word_count, O.word_count,
     lambda h: (lambda s: len(h.words_contained(s)))),
    ("is_number_cell", S.is_number_cell, O.is_number_cell,
     lambda h: h.is_number_cell),
    ("is_negative", S.is_negative, O.is_negative, lambda h: h.is_negative),
    ("comma_thousands", S.comma_separator_thousands,
     O.comma_separator_thousands, lambda h: h.comma_separator_thousands),
    ("dot_thousands", S.dot_separator_thousands, O.dot_separator_thousands,
     lambda h: h.dot_separator_thousands),
    ("clean_numeric", S.clean_numeric_value, O.clean_numeric_value,
     lambda h: (lambda s: (lambda d: None if d is None else float(d))(
         h.clean_numeric_value(s)))),
]


@pytest.mark.parametrize("name,spark_fn,duck_fn,ref_fn", CASES,
                         ids=[c[0] for c in CASES])
def test_scalar_triple_agreement(spark, reference, corpus, name, spark_fn,
                                 duck_fn, ref_fn):
    from pdf_reader import helper as ref_helper

    got_spark = _spark_eval(spark, corpus, spark_fn)
    got_duck = _duck_eval(corpus, duck_fn)
    ref = ref_fn(ref_helper)
    expected = [ref(c) for c in corpus]

    for c, sp, du, ex in zip(corpus, got_spark, got_duck, expected):
        if isinstance(ex, bool):
            sp, du = bool(sp), bool(du)
        assert sp == ex, f"{name}: spark({c!r}) = {sp!r} != ref {ex!r}"
        assert du == ex, f"{name}: duckdb({c!r}) = {du!r} != ref {ex!r}"


def test_clean_text_for_matching(spark, reference, corpus):
    from pdf_reader.custom_dataclasses import NaturalTextHelper

    helper = NaturalTextHelper(None)
    got_spark = _spark_eval(spark, corpus, S.clean_text_for_matching)
    got_duck = _duck_eval(corpus, O.clean_text_for_matching)
    expected = [helper.clean_text_for_matching(c) for c in corpus]
    assert got_spark == expected
    assert got_duck == expected


#: strings where lower-casing the text and lower-casing each token could
#: differ: context-dependent and length-changing case maps, a titlecase
#: letter, every whitespace kind (and U+00A0, which ``\s`` excludes),
#: the empty string and whitespace only
LOWER_EDGES = ["ΟΔΟΣ ΟΔΟΣ.", "Σ Σ", "İstanbul", "ǅ", "A\tB", "A\x0bB",
               "A\fB", "A\r\nB", "A\u00a0B", "", " \t\n "]


def test_lowered_tokens_equal_tokens_of_lowered_text(spark):
    """``transform(tokens(text), lower)`` (the Spark quality and LM
    scores) equals the whitespace tokens of ``lower(text)`` (their
    DuckDB twins): no case map turns whitespace into a letter or a
    letter into whitespace, and final sigma looks no further than its
    own word."""
    from parsee_pdf_reader_spark.plans.queries import tokens

    df = spark.createDataFrame(list(enumerate(LOWER_EDGES)),
                               "i int, text string")
    rows = df.select(
        "i",
        F.transform(tokens("text"), F.lower).alias("per_token"),
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        .alias("of_text")).collect()
    assert len(rows) == len(LOWER_EDGES)
    for r in rows:
        assert r.per_token == r.of_text, (LOWER_EDGES[r.i], r)
    got = {LOWER_EDGES[r.i]: r.per_token for r in rows}
    assert got["ΟΔΟΣ ΟΔΟΣ."] == ["οδος", "οδος."]
    assert got["A\u00a0B"] == ["a\u00a0b"]
    assert got[""] == [] and got[" \t\n "] == []
