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
from sf_fixture import SD

DOCS = duckdb.sql(
    f"select doc_id, text from '{SD}/documents.parquet'"
).fetchall()


def test_byte_identical_text_all_docs():
    for doc_id, text in DOCS:
        exp = expected_text(text)
        if is_layout_doc(doc_id):
            got, _ = extract_layout(render_layout(doc_id, text))
        else:
            got, _ = extract_html(render_html(doc_id, text))
        assert got == exp, f"doc {doc_id} text not byte-identical"


def test_token_spans_slice_text():
    for doc_id, text in DOCS[:50]:
        payload = (
            render_layout(doc_id, text)
            if is_layout_doc(doc_id)
            else render_html(doc_id, text)
        )
        got, tokens = (
            extract_layout(payload) if is_layout_doc(doc_id) else extract_html(payload)
        )
        for t in tokens:
            word, start, end = t[5], t[8], t[9]
            assert got[start:end] == word


def test_reading_order_ids_monotone():
    doc_id, text = next((d, t) for d, t in DOCS if is_layout_doc(d))
    _, tokens = extract_layout(render_layout(doc_id, text))
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
    pages = build_web_pages(spark, SD).unionByName(extra)
    out = extract_pages(pages)
    assert out.schema == EXTRACT_RESULT
    want = {}
    for r in pages.collect():
        kind, text, tokens, nb = _extract_one(r.html, r.text)
        want[r.url] = (
            r.url, r.warc_ts, r.lang, kind, text, nb, len(tokens), tokens,
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


def test_byte_bounded_rebatching(spark):
    """The engine bounds the stage's input batches by payload bytes
    (arrow.maxBytesPerBatch): under a small bound one partition reaches
    the kernel as several batches, each within the bound unless it is a
    single row, and rows keep their order and content."""
    from datetime import datetime

    import pyarrow as pa
    from pyspark.sql import types as T

    from dpo_ocr_spark.extract import extract_pages, stage
    from dpo_ocr_spark.schemas import EXTRACT_RESULT, WEB_PAGES

    bound = 1000
    ts = datetime(2024, 1, 1)
    payloads = [b"<p>" + bytes([65 + i % 26]) * 300 + b"</p>" for i in range(12)]
    pages = spark.createDataFrame(
        [(f"u{i:02d}", ts, p, None, "en") for i, p in enumerate(payloads)],
        schema=WEB_PAGES,
    ).coalesce(1)

    def sized(it):
        # the production kernel, tagging each output row with its batch
        for seq, out in enumerate(stage._extract_batches(it)):
            n = out.num_rows
            yield out.append_column("batch", pa.array([seq] * n, pa.int32()))

    tagged_schema = T.StructType(
        EXTRACT_RESULT.fields + [T.StructField("batch", T.IntegerType(), False)]
    )
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(bound))
    try:
        tagged = pages.mapInArrow(sized, tagged_schema).collect()
        staged = extract_pages(pages).collect()
    finally:
        spark.conf.set(key, before)
    batches: dict[int, list] = {}
    for r in tagged:
        batches.setdefault(r.batch, []).append(r)
    assert len(batches) > 1
    for rows in batches.values():
        assert len(rows) == 1 or sum(r.n_bytes for r in rows) <= bound
    assert [r.url for r in tagged] == [f"u{i:02d}" for i in range(12)]
    assert [r.batch for r in tagged] == sorted(r.batch for r in tagged)
    assert [tuple(r)[:-1] for r in tagged] == [tuple(r) for r in staged]
