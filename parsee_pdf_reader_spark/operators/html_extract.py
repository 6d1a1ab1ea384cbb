"""HTML main-content extraction (boilerplate strip + DOM heuristics).

The web-page half of the north rule: for Common-Crawl rows whose
``html`` payload is an HTML document, extract the main content with
readability-style heuristics — walk the DOM (stdlib ``html.parser``;
no native deps), drop chrome subtrees (nav/header/footer/aside/script/
style/form), segment into block elements, and keep blocks by text
length and link density. Deterministic: same bytes -> same text.

Spark surface: an Arrow-batched pure map (``extract_web_pages``), and
``sniff_kind``, the one content-dispatch rule (layout / pdf / html /
unknown) the training pipeline's document map applies per payload.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import List, Optional

from parsee_pdf_reader_spark.pipeline import map_documents

_SKIP_SUBTREES = {"script", "style", "nav", "footer", "header", "aside",
                  "form", "noscript", "svg", "iframe", "button"}
_BLOCK_TAGS = {"p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
               "article", "section", "td", "blockquote", "pre"}
_MIN_BLOCK_CHARS = 25
_MAX_LINK_DENSITY = 0.30


class _Block:
    __slots__ = ("parts", "link_chars", "tag", "heading")

    def __init__(self, tag: str):
        self.parts: List[str] = []
        self.link_chars = 0
        self.tag = tag
        self.heading = tag in {"h1", "h2", "h3", "h4", "h5", "h6"}

    def text(self) -> str:
        return " ".join("".join(self.parts).split())


class _MainContentParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: List[_Block] = []
        self.title_parts: List[str] = []
        self._cur: Optional[_Block] = None
        self._skip_depth = 0
        self._in_title = False
        self._link_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_SUBTREES:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "title":
            self._in_title = True
        elif tag == "a":
            self._link_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
            self._cur = _Block(tag)

    def handle_endtag(self, tag):
        if tag in _SKIP_SUBTREES:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "title":
            self._in_title = False
        elif tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        if self._cur is None:
            if data.strip():
                self._cur = _Block("div")
            else:
                return
        self._cur.parts.append(data)
        if self._link_depth:
            self._cur.link_chars += len(data)

    def _flush(self):
        if self._cur is not None:
            if self._cur.text():
                self.blocks.append(self._cur)
            self._cur = None

    def close(self):
        super().close()
        self._flush()


def looks_like_html(payload: bytes) -> bool:
    head = payload[:256].lstrip().lower()
    return head.startswith((b"<!doctype", b"<html", b"<head", b"<body"))


def extract_html_document(payload: bytes) -> dict:
    """bytes -> {title, main_text, blocks, n_blocks, n_kept}."""
    text = payload.decode("utf-8", errors="replace")
    parser = _MainContentParser()
    parser.feed(text)
    parser.close()
    kept: List[str] = []
    for b in parser.blocks:
        t = b.text()
        raw_len = len("".join(b.parts))
        density = (b.link_chars / raw_len) if raw_len else 1.0
        if b.heading and t:
            kept.append(t)
        elif len(t) >= _MIN_BLOCK_CHARS and density <= _MAX_LINK_DENSITY:
            kept.append(t)
    return {
        "title": " ".join("".join(parser.title_parts).split()),
        "main_text": "\n\n".join(kept),
        "blocks": kept,
        "n_blocks": len(parser.blocks),
        "n_kept": len(kept),
    }


WEB_EXTRACT_SCHEMA = ("url string, warc_ts timestamp, lang string, "
                      "title string, main_text string, n_blocks int, "
                      "n_kept int, error string")


def _web_rows(url, warc_ts, lang, blob):
    base = {"url": url, "warc_ts": warc_ts, "lang": lang}
    try:
        d = extract_html_document(bytes(blob))
    except Exception as e:
        return [dict(base, title=None, main_text=None, n_blocks=None,
                     n_kept=None, error=f"{type(e).__name__}: {e}")]
    return [dict(base, title=d["title"], main_text=d["main_text"],
                 n_blocks=d["n_blocks"], n_kept=d["n_kept"], error=None)]


def extract_web_pages(pages_df):
    """pages(url, warc_ts, html, text, lang) -> main-content rows.
    Pure Arrow map, no shuffle (``pipeline.map_documents``)."""
    return map_documents(pages_df.select("url", "warc_ts", "lang", "html"),
                         WEB_EXTRACT_SCHEMA, _web_rows)


def sniff_kind(payload: bytes) -> str:
    """Content-based dispatch of one payload (upgrades the reference's
    extension-based ``is_image``, converter.py:31-38, which is wrong
    for Common-Crawl payloads): ``layout`` for PLD1/PLD2 bytes, ``pdf``
    for ``%PDF-``, ``html`` where :func:`looks_like_html` accepts it
    (leading ASCII whitespace allowed), else ``unknown``."""
    if payload[:4] in (b"PLD1", b"PLD2"):
        return "layout"
    if payload[:5] == b"%PDF-":
        return "pdf"
    return "html" if looks_like_html(payload) else "unknown"


# --- oracle-checkable HTML scalar surface ---

from parsee_pdf_reader_spark.plans.queries import _t, _ts, register  # noqa: E402

_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head><body>"
    "<nav><a href=\"#\">home</a> <a href=\"#\">about</a></nav><p>' "
    "|| text || '</p><footer>contact</footer></body></html>'"
)


@register(
    "html_strip_tags",
    f"""
    select doc_id,
           regexp_extract({_WRAP_SQL}, '<title>([^<]*)</title>', 1)
               as title,
           length(trim(regexp_replace(
               regexp_replace({_WRAP_SQL}, '<[^>]*>', ' ', 'g'),
               '\\s+', ' ', 'g'))) as stripped_len,
           len(regexp_extract_all({_WRAP_SQL}, '<a\\b[^>]*>')) as n_links
    from documents
    """,
)
def q_html_strip_tags(spark, sf_dir):
    """Tag-strip / link-count scalar ops as native column expressions
    (the codegen'd part of the HTML path; the DOM walk itself is the
    Arrow kernel above, golden-tested in tests/test_html_extract.py)."""
    from pyspark.sql import functions as F

    docs = _ts(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit('</title></head><body><nav><a href="#">home</a> '
              '<a href="#">about</a></nav><p>'),
        F.col("text"),
        F.lit("</p><footer>contact</footer></body></html>"),
    )
    stripped = F.trim(F.regexp_replace(
        F.regexp_replace(wrapped, "<[^>]*>", " "), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.regexp_extract(wrapped, "<title>([^<]*)</title>", 1)
        .alias("title"),
        F.length(stripped).alias("stripped_len"),
        F.size(F.regexp_extract_all(wrapped, F.lit(r"<a\b[^>]*>"), 0))
        .alias("n_links"),
    )
