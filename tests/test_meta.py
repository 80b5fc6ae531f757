"""Head-metadata extractor (extract/meta.py) + the corpus robots marking."""

from __future__ import annotations

from dpo_ocr_spark.corpus import (
    is_noindex_doc,
    page_url,
    render_html,
    render_html_cs,
    render_layout,
)
from dpo_ocr_spark.extract.meta import page_meta
from sf_fixture import SD

TEXT = "alpha beta gamma delta epsilon zeta eta theta iota"


def test_fixture_pages():
    for doc_id in (1, 2, 3, 6, 17 * 5 + 3, 20):
        title, lang, canon, noindex, n_links = page_meta(
            render_html(doc_id, TEXT)
        )
        assert title == f"Doc {doc_id}"
        assert lang is None
        assert canon == page_url(doc_id)
        assert noindex == is_noindex_doc(doc_id)
        assert n_links == 10
    # layout payloads: no head at all
    assert page_meta(render_layout(4, TEXT)) == (None, None, None, False, 0)
    assert page_meta(b"") == (None, None, None, False, 0)


def test_meta_across_charsets():
    for doc_id in (1, 2, 7, 8):  # cp1252-declared and UTF-16 BOM forms
        a = page_meta(render_html(doc_id, TEXT))
        b = page_meta(render_html_cs(doc_id, TEXT))
        assert a == b


def test_crafted_head_variants():
    page = (
        '<html LANG="EN-gb"><head><title> A &amp; B </title>'
        "<link rel=stylesheet href='/s.css'>"
        "<link rel='canonical' href='https://x.org/a?x=1'>"
        '<META NAME="ROBOTS" CONTENT="NOINDEX, nofollow">'
        "</head><body><a href='/'>x</a><a\nhref='/y'>y</a></body>"
    ).encode("utf-8")
    title, lang, canon, noindex, n_links = page_meta(page)
    assert title == "A & B"  # entity-unescaped, stripped
    assert lang == "en-gb"
    assert canon == "https://x.org/a?x=1"  # first canonical, not stylesheet
    assert noindex is True
    assert n_links == 2
    # robots meta that is NOT noindex
    page = b'<meta name="robots" content="index,follow"><title>t</title>'
    assert page_meta(page)[3] is False
    # robots content on an unrelated meta must not fire
    page = b'<meta name="description" content="noindex is a word"><title>t</title>'
    assert page_meta(page)[3] is False


def test_html_meta_frame(spark):
    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.extract.meta import html_meta

    pages = build_web_pages(spark, SD, partitions=4)
    rows = {r["url"]: r for r in html_meta(pages).collect()}
    assert len(rows) == 500
    for url, r in list(rows.items())[:50]:
        doc_id = int(url[-6:])
        if doc_id % 5 == 4:
            assert r["title"] is None and r["n_links"] == 0
            assert r["robots_noindex"] is False
        else:
            assert r["title"] == f"Doc {doc_id}"
            if doc_id % 23 == 7:
                assert r["canonical_url"] == page_url(doc_id - 7)
            else:
                assert r["canonical_url"] == url
            assert r["robots_noindex"] == (doc_id % 17 == 3)
            assert r["n_links"] == 10


def test_page_links_fixture():
    from dpo_ocr_spark.extract.meta import page_links

    doc_id = 3
    url = page_url(doc_id)
    host = "https://host-3.example.org"
    links = page_links(render_html(doc_id, TEXT), url)
    assert links == [
        host + "/", host + "/archive", host + "/about",
        host + "/ad1", host + "/ad2",
        url, url, url,  # the three share-bar '#' links resolve to self
        host + "/privacy", host + "/terms",
    ]
    assert page_links(render_layout(4, TEXT), page_url(4)) == []


def test_page_links_resolution_and_skips():
    from dpo_ocr_spark.extract.meta import page_links

    page = (
        "<a href='rel.html'>r</a>"
        "<a href='//other.org/a'>p</a>"
        "<a href='https://abs.org/x'>a</a>"
        "<a href='javascript:void(0)'>j</a>"
        "<a href='MAILTO:x@y.z'>m</a>"
        "<a href=''>e</a>"
        "<a href='/q?a=1&amp;b=2'>q</a>"
    ).encode("utf-8")
    got = page_links(page, "https://host.example.org/dir/page")
    assert got == [
        "https://host.example.org/dir/rel.html",
        "https://other.org/a",
        "https://abs.org/x",
        "https://host.example.org/q?a=1&b=2",  # entity-unescaped href
    ]


def test_canonical_dup_marking():
    from dpo_ocr_spark.corpus import canonical_id
    from dpo_ocr_spark.extract.meta import page_meta

    assert canonical_id(7) == 0 and canonical_id(30) == 23
    assert canonical_id(8) == 8 and canonical_id(23) == 23
    meta = page_meta(render_html(30, TEXT))
    assert meta[2] == page_url(23)  # declared canonical is the base page
    meta = page_meta(render_html(8, TEXT))
    assert meta[2] == page_url(8)


def test_crawl_frontier_query(spark):
    from dpo_ocr_spark.queries import QUERIES

    rows = QUERIES["crawl_frontier"](spark, SD).collect()
    # hosts with html docs x 7 boilerplate paths; a host h's docs all
    # share doc_id%5 == h%5, so hosts 4/9/14/19 are layout-only and
    # emit no links: hot + {1..19} minus {4,9,14,19,10} = 15 hosts.
    # Self-links must be anti-joined away.
    assert len(rows) == 15 * 7
    assert all("/doc/" not in r["target"] for r in rows)
    by_host = {}
    for r in rows:
        host = r["target"].split("/")[2]
        by_host.setdefault(host, []).append(r)
    assert all(len(v) == 7 for v in by_host.values())
