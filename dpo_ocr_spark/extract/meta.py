"""Head-metadata extraction: title / canonical / robots / lang / links.

The curation decisions a crawl pipeline makes BEFORE touching body text
live in the document head: ``<link rel=canonical>`` (dedup key),
``<meta name=robots>`` noindex (must-drop), ``<html lang>`` (routing),
``<title>`` and the outlink count (quality signals).  This module
surfaces them as a typed frame with the same Arrow-batched shape as the
body extractor (zero shuffles, zero per-row Python at the Spark layer).

Parsing is regex-over-decoded-text on the charset-sniffed page
(extract/charset.py) — the same total decode ladder as the segmenters,
so a cp1252 or UTF-16 page yields the same metadata as its UTF-8 twin.
Layout payloads (Document-AI JSON) have no head: all-NULL row with
n_links 0.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html import unescape

from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .charset import decode_html

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.I | re.S)
_LINK_RE = re.compile(r"<link\b[^>]*>", re.I)
_META_RE = re.compile(r"<meta\b[^>]*>", re.I)
_REL_CANON_RE = re.compile(r"""rel\s*=\s*["']?canonical["'\s>]""", re.I)
_HREF_RE = re.compile(r"""href\s*=\s*["']([^"']*)["']""", re.I)
_NAME_ROBOTS_RE = re.compile(r"""name\s*=\s*["']?robots["'\s>]""", re.I)
_CONTENT_RE = re.compile(r"""content\s*=\s*["']([^"']*)["']""", re.I)
_HTML_LANG_RE = re.compile(
    r"""<html\b[^>]*\blang\s*=\s*["']?([a-zA-Z0-9\-]+)""", re.I
)
_A_RE = re.compile(r"<a[\s>]", re.I)

HTML_META = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("lang_attr", T.StringType(), True),
        T.StructField("canonical_url", T.StringType(), True),
        T.StructField("robots_noindex", T.BooleanType(), False),
        T.StructField("n_links", T.IntegerType(), False),
    ]
)
_HTML_META_ARROW = to_arrow_schema(HTML_META)


def page_meta(payload: bytes) -> tuple:
    """(title, lang_attr, canonical_url, robots_noindex, n_links)."""
    if not payload or payload[:1] == b"{":
        return (None, None, None, False, 0)  # layout JSON: no head
    text = decode_html(payload)
    m = _TITLE_RE.search(text)
    title = unescape(m.group(1)).strip() if m else None
    m = _HTML_LANG_RE.search(text)
    lang = m.group(1).lower() if m else None
    canonical = None
    for link in _LINK_RE.finditer(text):
        tag = link.group(0)
        if _REL_CANON_RE.search(tag):
            href = _HREF_RE.search(tag)
            if href:
                canonical = href.group(1)
                break
    noindex = False
    for meta in _META_RE.finditer(text):
        tag = meta.group(0)
        if _NAME_ROBOTS_RE.search(tag):
            content = _CONTENT_RE.search(tag)
            if content and "noindex" in content.group(1).lower():
                noindex = True
                break
    return (title, lang, canonical, noindex, len(_A_RE.findall(text)))


_A_HREF_RE = re.compile(r"""<a\b[^>]*?href\s*=\s*["']([^"']*)["']""", re.I)
_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:")

OUTLINKS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("target", T.StringType(), False),
    ]
)
_OUTLINKS_ARROW = to_arrow_schema(OUTLINKS)


def page_links(payload: bytes, base_url: str) -> list[str]:
    """Resolved outlink targets in document order: every ``<a href>``
    joined against the page url (RFC 3986 via urljoin — ``#`` and
    fragment-only hrefs resolve to the page itself), non-navigational
    schemes (javascript/mailto/tel/data) dropped."""
    if not payload or payload[:1] == b"{":
        return []
    from urllib.parse import urljoin

    text = decode_html(payload)
    out: list[str] = []
    for m in _A_HREF_RE.finditer(text):
        href = unescape(m.group(1)).strip()
        if not href or href.lower().startswith(_SKIP_SCHEMES):
            continue
        out.append(urljoin(base_url, href))
    return out


def outlinks(pages: DataFrame) -> DataFrame:
    """web_pages frame → one row per (page, link position, resolved
    target): the edge list a web-graph/PageRank/frontier job consumes.
    Narrow (no shuffle) — degree aggregations shuffle on the target,
    which is the natural key for the downstream groupBy."""

    def gen(it):
        import pyarrow as pa

        for batch in it:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            cols: dict[str, list] = {"url": [], "pos": [], "target": []}
            for url, html in zip(urls, htmls):
                for pos, target in enumerate(
                    page_links(bytes(html) if html is not None else b"", url)
                ):
                    cols["url"].append(url)
                    cols["pos"].append(pos)
                    cols["target"].append(target)
            if cols["url"]:
                yield pa.RecordBatch.from_pydict(cols, schema=_OUTLINKS_ARROW)

    return pages.select("url", "html").mapInArrow(gen, schema=OUTLINKS)


def html_meta(pages: DataFrame) -> DataFrame:
    """web_pages frame → HTML_META frame (one row per url, no shuffle)."""

    def gen(it) -> Iterator:
        import pyarrow as pa

        for batch in it:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            cols: dict[str, list] = {n: [] for n in HTML_META.names}
            for url, html in zip(urls, htmls):
                title, lang, canon, noindex, n_links = page_meta(
                    bytes(html) if html is not None else b""
                )
                cols["url"].append(url)
                cols["title"].append(title)
                cols["lang_attr"].append(lang)
                cols["canonical_url"].append(canon)
                cols["robots_noindex"].append(noindex)
                cols["n_links"].append(n_links)
            yield pa.RecordBatch.from_pydict(cols, schema=_HTML_META_ARROW)

    return pages.select("url", "html").mapInArrow(gen, schema=HTML_META)
