"""HTML segmenter ≡ stdlib reference segmenter (tests/html_reference.py)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from dpo_ocr_spark.corpus import render_html
from dpo_ocr_spark.extract.html import segment_html
from html_reference import segment_html as reference_segment_html
from sf_fixture import SD

DOCS = duckdb.sql(
    f"select doc_id, text from '{SD}/documents.parquet'"
).fetchall()


def test_corpus_equivalence():
    for doc_id, text in DOCS:
        p = render_html(doc_id, text)
        assert segment_html(p) == reference_segment_html(p), f"doc {doc_id}"


def test_probe_equivalence():
    probes = [
        b"", b"no tags at all", b"<p>a &amp; b</p>",
        b"<p>bad &notanentity; x</p>",
        b"<div><a href='x'>link text</a> more</div>",
        b"<script>var x = '<p>not a tag</p>';</script><p>real</p>",
        b"<style>p{}</style><p>s</p>", b"<p>unclosed",
        b"<br/><p>after void</p>", b"<P>UPPER</P>",
        b"<p>a<b>bold</b>c</p>", b"<!-- <p>comment</p> --><p>x</p>",
        b"<!DOCTYPE html><p>y</p>",
        b"<nav><p>inside nav</p></nav><p>out</p>",
        b"<p>a &#65; &#x42; c</p>", b"<script>unterminated",
        b"</{bogus}><p>after bogus endtag</p>",
        b"\x00\xff binary <p>ok</p>",
        b"<p>5 &lt; 6 &amp;&amp; 7 &gt; 2</p>",
    ]
    for p in probes:
        assert segment_html(p) == reference_segment_html(p), p


# Inputs on which the lexer once disagreed with html.parser, with the
# reference output written out: html.parser's handling of malformed markup
# changes between CPython patch releases, and a literal list shows such a
# change as a test diff instead of silently moving both sides.
PINNED = [
    # rawtext end tag inside a comment inside <script>
    (
        b"<p>before</p><script>x<!-- </script><p>mid</p> --></p><p>after</p>",
        ["before", "mid", "-->", "after"],
    ),
    # unterminated comment: text through the next '>', then lexed again
    (b"x<!--<p>y</p>z", ["x<!--<p>y", "z"]),
    (b"<p>a<!-- b</p><p>c", ["a<!-- b</p>", "c"]),
    # '<!--->' is not a closed comment
    (b"a<!--->b<p>c", ["a<!--->b", "c"]),
    # CDATA marked section is dropped whole
    (b"a<![CDATA[<p>b]]>c", ["ac"]),
    # whitespace after '</' still names the tag; '</>' vanishes
    (b"a</ p>b", ["a", "b"]),
    (b"a</>b", ["ab"]),
]


@pytest.mark.parametrize("payload,expected", PINNED)
def test_pinned_probes(payload, expected):
    assert reference_segment_html(payload) == expected
    assert segment_html(payload) == expected


_NAMES = ["p", "P", "div", "a", "b", "li", "h1", "nav", "title", "br", "x-y"]
_RAW = ["script", "style", "SCRIPT"]
_ATTRS = [
    "", ' class="c"', ' href="a>b"', " title='x>y'", " data-x=1",
    " a", ' x="/"', " y=z/", ' id="a" class="b c"', "\tk='v'",
]


def _start(name, attrs, close):
    return f"<{name}{attrs}{close}"


_start_tags = st.builds(
    _start,
    st.sampled_from(_NAMES + _RAW),
    st.sampled_from(_ATTRS),
    st.sampled_from([">", "/>", " />", ""]),
)
_end_tags = st.one_of(
    st.sampled_from(_NAMES + _RAW).flatmap(
        lambda n: st.sampled_from(
            [f"</{n}>", f"</ {n}>", f"</{n} >", f"</{n} x='>'>", f"</{n}"]
        )
    ),
    st.sampled_from(["</>", "</{x}>", "</ 1>", "</"]),
)
_rawtext = st.builds(
    lambda name, body, end: f"<{name}>{body}{end}",
    st.sampled_from(_RAW),
    st.lists(
        st.sampled_from(
            ["var x=1;", "<p>", "</p>", "<!--", "-->", "'</", "a<b", "\n"]
        ),
        max_size=4,
    ).map("".join),
    st.sampled_from(
        ["</script>", "</style>", "</ script >", "</SCRIPT>", "</p>", ""]
    ),
)
_comments = st.sampled_from(
    [
        "<!-- c -->", "<!--", "-->", "<!--->", "<!---->", "<!-->",
        "<!-- a -- >", "--", "<!-- <p>x</p> -->",
    ]
)
_sections = st.sampled_from(
    ["<![CDATA[", "]]>", "<![CDATA[<p>x]]>", "<![if IE]>", "<![endif]>"]
)
_decls = st.sampled_from(["<!DOCTYPE html>", "<!x>", "<!>", "<?pi x?>", "<?"])
_entities = st.sampled_from(
    ["&amp;", "&lt;p&gt;", "&#65;", "&#x42;", "&nbsp;", "&bogus;", "&", "&amp"]
)
_text = st.one_of(
    st.sampled_from(["alpha", "beta gamma", " ", "\n", "x y z"]),
    st.text(alphabet="ab <>/=&;'\"-!?\n", max_size=8),
)
_tag_soup = st.lists(
    st.one_of(
        _text, _start_tags, _end_tags, _rawtext, _comments, _sections,
        _decls, _entities,
    ),
    max_size=25,
).map(lambda parts: "".join(parts).encode("utf-8"))


@given(_tag_soup)
@settings(
    max_examples=3000,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_segmenter_matches_reference_on_tag_soup(payload):
    assert segment_html(payload) == reference_segment_html(payload)


def test_fast_is_faster():
    import time

    payloads = [render_html(d, t) for d, t in DOCS]
    t0 = time.time()
    for p in payloads:
        reference_segment_html(p)
    t_ref = time.time() - t0
    t0 = time.time()
    for p in payloads:
        segment_html(p)
    t_fast = time.time() - t0
    assert t_fast < t_ref, (t_fast, t_ref)
