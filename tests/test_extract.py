"""Extraction kernels: byte-identity, spans, boilerplate stripping.

Pure-Python tests (no Spark) — the kernels are pure functions of the
payload bytes, which is exactly what makes them safe inside Arrow batches.
"""

from __future__ import annotations

import duckdb
import pytest

from dpo_ocr_spark.corpus import (
    expected_text,
    is_layout_doc,
    render_html,
    render_layout,
    split_paragraphs,
    token_confidence,
)
from dpo_ocr_spark.extract.html import extract_html, segment_html
from dpo_ocr_spark.extract.layout import extract_layout

DOCS = duckdb.sql(
    "select doc_id, text from '/root/testdata/sf0.001/documents.parquet'"
).fetchall()


def test_byte_identical_text_all_docs():
    for doc_id, text in DOCS:
        exp = expected_text(text)
        if is_layout_doc(doc_id):
            got, _, _ = extract_layout(render_layout(doc_id, text))
        else:
            got, _, _ = extract_html(render_html(doc_id, text))
        assert got == exp, f"doc {doc_id} text not byte-identical"


def test_token_spans_slice_text():
    for doc_id, text in DOCS[:50]:
        payload = (
            render_layout(doc_id, text)
            if is_layout_doc(doc_id)
            else render_html(doc_id, text)
        )
        got, tokens, _ = (
            extract_layout(payload) if is_layout_doc(doc_id) else extract_html(payload)
        )
        for t in tokens:
            word, start, end = t[5], t[8], t[9]
            assert got[start:end] == word


def test_reading_order_ids_monotone():
    doc_id, text = next((d, t) for d, t in DOCS if is_layout_doc(d))
    _, tokens, _ = extract_layout(render_layout(doc_id, text))
    keys = [(t[0], t[1], t[3], t[4]) for t in tokens]  # page,block,line,word
    assert keys == sorted(keys)
    assert [t[4] for t in tokens] == list(range(len(tokens)))


def test_boilerplate_stripped():
    html = render_html(7, "alpha beta gamma delta epsilon zeta")
    segs = segment_html(html)
    joined = "\n".join(segs)
    for boiler in ("Home", "Archive", "Sponsored", "Privacy", "Share",
                   "Document 7", "Doc 7", "trackPageView", "margin:0"):
        assert boiler not in joined
    assert "alpha" in joined


def test_link_density_threshold():
    # a block that is mostly links must be dropped even outside kill tags
    page = (b"<html><body><div><a href='x'>click here now</a> ok</div>"
            b"<p>real body content words</p></body></html>")
    segs = segment_html(page)
    assert segs == ["real body content words"]


def test_plain_entities_unescaped():
    page = b"<html><body><p>a &amp; b &lt;c&gt;</p></body></html>"
    assert segment_html(page) == ["a & b <c>"]


def test_split_paragraphs_contract():
    assert split_paragraphs("a b") == ["a b"]
    assert split_paragraphs("a b c") == ["a", "b", "c"]
    assert split_paragraphs("a b c d") == ["a b", "c", "d"]  # cuts at 2, 3
    words = [f"w{i}" for i in range(10)]
    paras = split_paragraphs(" ".join(words))
    assert " ".join(paras).split(" ") == words


def test_confidence_formula_range():
    vals = [token_confidence(w, i) for i, w in enumerate(["a", "bb", "ccc"] * 40)]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert any(v <= 0.70 for v in vals) and any(v >= 0.85 for v in vals)


def test_layout_block_bbox_envelope():
    doc_id, text = next((d, t) for d, t in DOCS if is_layout_doc(d))
    _, tokens, blocks = extract_layout(render_layout(doc_id, text))
    for page, b, conf, bbox in blocks:
        xs = [v for t in tokens if t[1] == b for v in t[7][0::2]]
        ys = [v for t in tokens if t[1] == b for v in t[7][1::2]]
        assert bbox[0] == min(xs) and bbox[2] == max(xs)
        assert bbox[1] == min(ys) and bbox[5] == max(ys)


def test_stage_matches_per_row_reference(spark):
    """Every row of the Arrow stage equals ``_extract_one`` applied to
    that input row in the driver: sf0.001 pages plus a quarantined, a PDF
    and a text-passthrough row."""
    from datetime import datetime

    from dpo_ocr_spark.corpus import build_web_pages, render_pdf
    from dpo_ocr_spark.extract import extract_pages
    from dpo_ocr_spark.extract.stage import _extract_one
    from dpo_ocr_spark.schemas import EXTRACT_RESULT, WEB_PAGES

    ts = datetime(2024, 1, 1)
    extra = spark.createDataFrame(
        [
            ("q", ts, b"{not valid json", None, "en"),
            ("pdf", ts, render_pdf(2, "alpha beta gamma delta"), None, "en"),
            ("txt", ts, None, "pre-extracted text", "en"),
        ],
        schema=WEB_PAGES,
    )
    pages = build_web_pages(spark, "/root/testdata/sf0.001").unionByName(extra)
    out = extract_pages(pages)
    assert out.schema == EXTRACT_RESULT
    want = {}
    for r in pages.collect():
        kind, text, tokens, blocks, nb = _extract_one(r.html, r.text)
        want[r.url] = (
            r.url, r.warc_ts, r.lang, kind, text, nb, len(tokens),
            tokens, blocks,
        )
    got = {r.url: r for r in out.collect()}
    assert got.keys() == want.keys()
    assert [got[u].payload_kind for u in ("q", "pdf", "txt")] == [
        "error", "pdf", "text",
    ]
    for url, row in want.items():
        assert got[url] == row, url


def test_adversarial_payloads_quarantined(spark):
    """Malformed payloads yield payload_kind='error' rows, never a job
    abort (at 10^12 rows a single bad page must not kill the task) —
    through the default (Arrow) path."""
    from datetime import datetime

    from dpo_ocr_spark.extract import extract_pages
    from dpo_ocr_spark.schemas import WEB_PAGES

    ts = datetime(2024, 1, 1)
    bad = spark.createDataFrame(
        [
            ("a", ts, b"{not valid json", None, "en"),
            ("b", ts, None, None, None),
            ("c", ts, None, "pre-extracted text", "en"),
            ("d", ts, b"\xff\xfe\x00garbage<p>x", None, "en"),
            ("e", ts, b"<html><p>unclosed", None, "en"),
            ("f", ts, b"", "fallback", "en"),
        ],
        schema=WEB_PAGES,
    )
    rows = {r.url: r for r in extract_pages(bad).collect()}
    assert rows["a"].payload_kind == "error" and rows["a"].text is None
    assert rows["b"].payload_kind == "text" and rows["b"].text == ""
    assert rows["c"].text == "pre-extracted text"
    assert rows["d"].payload_kind == "html"  # decodable w/ errors=replace
    assert rows["e"].payload_kind == "html" and "unclosed" in rows["e"].text
    assert rows["f"].text == "fallback"


def test_byte_bounded_rebatching(monkeypatch):
    """Oversized incoming Arrow batches are sliced (zero-copy) to the
    payload-byte target before decode; row content is preserved."""
    import pyarrow as pa

    from dpo_ocr_spark.extract import stage

    monkeypatch.setattr(stage, "TARGET_PAYLOAD_BYTES", 1000)
    payloads = [b"<p>" + bytes([65 + i % 26]) * 300 + b"</p>" for i in range(12)]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"u{i}" for i in range(12)]),
            pa.array([None] * 12, pa.timestamp("us", tz="UTC")),
            pa.array(payloads, pa.binary()),
            pa.array([None] * 12, pa.string()),
            pa.array(["en"] * 12),
        ],
        names=["url", "warc_ts", "html", "text", "lang"],
    )
    slices = list(stage._byte_bounded(iter([batch])))
    assert len(slices) > 1
    assert sum(s.num_rows for s in slices) == 12
    out = list(stage._extract_batches(iter([batch])))
    urls = [u for b in out for u in b.column("url").to_pylist()]
    assert urls == [f"u{i}" for i in range(12)]
    # singleton rows never split even when over target
    one = batch.slice(0, 1)
    assert [s.num_rows for s in stage._byte_bounded(iter([one]))] == [1]
