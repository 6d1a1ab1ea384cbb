"""HTML main-content extraction: boilerplate strip, dispatch, Spark map."""

from parsee_pdf_reader_spark.operators.html_extract import (
    extract_html_document,
    extract_web_pages,
    looks_like_html,
    sniff_kind,
)
from parsee_pdf_reader_spark.sources.synth import (
    build_document,
    build_html_document,
    build_pdf_document,
)


def test_main_text_matches_golden():
    n_dropped = 0
    for i in range(40):
        blob, golden = build_html_document(f"web{i}", 42)
        d = extract_html_document(blob)
        assert d["main_text"] == golden, f"web{i}"
        assert d["title"]
        assert d["n_kept"] <= d["n_blocks"]
        n_dropped += d["n_blocks"] - d["n_kept"]
    assert n_dropped > 0  # link-heavy blocks were dropped somewhere


def test_boilerplate_is_dropped():
    blob, _ = build_html_document("web1", 42)
    d = extract_html_document(blob)
    t = d["main_text"].lower()
    assert "advertisement" not in t
    assert "copyright" not in t
    assert "not content" not in t  # script payload
    assert "margin:0" not in t     # style payload


def test_looks_like_html():
    assert looks_like_html(b"  <!DOCTYPE html><html>...")
    assert looks_like_html(b"<html lang='en'>")
    assert not looks_like_html(b"PLD1xxxx")
    assert not looks_like_html(b"%PDF-1.4")


def test_dispatch_and_web_extraction(spark):
    rows = []
    golden = {}
    for i in range(10):
        blob, g = build_html_document(f"web{i}", 42)
        golden[f"h{i}"] = g
        rows.append((f"h{i}", None, blob, g, "en"))
    for i in range(5):
        blob, text = build_document(f"doc{i}", 42)
        rows.append((f"l{i}", None, blob, text, "en"))
    rows.append(("p0", None, build_pdf_document("pdf0", 42), "", "en"))
    rows.append(("junk", None, b"\x00\x01garbage", "", "en"))
    kinds = {r[0]: sniff_kind(r[2]) for r in rows}
    assert all(kinds[f"h{i}"] == "html" for i in range(10))
    assert all(kinds[f"l{i}"] == "layout" for i in range(5))
    assert kinds["p0"] == "pdf"
    assert kinds["junk"] == "unknown"
    # the same whitespace rule as looks_like_html; a bare %PDF without
    # the version dash is not a PDF header
    assert sniff_kind(b"\r\n\t <HTML>") == "html"
    assert sniff_kind(b"%PDF") == "unknown"
    assert sniff_kind(b"") == "unknown"

    df = spark.createDataFrame(
        [r for r in rows if kinds[r[0]] == "html"],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    web = extract_web_pages(df).collect()
    assert len(web) == 10
    for r in web:
        assert r.error is None
        assert r.main_text == golden[r.url]

    # plan: one Arrow map, no pandas map, no shuffle
    plan = extract_web_pages(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert plan.count("MapInArrow") == 1, plan
    for absent in ("MapInPandas", "Exchange"):
        assert absent not in plan, plan
