"""Assembly semantics on tiny in-memory frames (SURVEY.md A1/A2/F1/T3)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import types as T

from dpo_ocr_spark.schemas import TOKEN

TOKEN_WITH_URL = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
    ]
    + list(TOKEN.fields)
)
TS = datetime(2024, 1, 1)


def _tokens(spark):
    rows = [
        # url, page, block, para, word_line, word, word_text, confidence
        ("u1", 1, 0, 0, 0, 1, "world", 0.9),
        ("u1", 1, 0, 0, 0, 0, "hello", 0.8),       # out-of-order input
        ("u1", 1, 0, 0, 1, 2, "second", 0.95),
        ("u1", 1, 0, 0, 1, 3, "line", 0.60),        # below 0.70 gate
        ("u1", 1, 1, 1, 2, 4, "next", 0.71),
        ("u2", 1, 0, 0, 0, 0, "solo", 1.0),
    ]
    return spark.createDataFrame(
        [
            (u, TS, p, b, pa, wl, w, t, c, None, None, None)
            for (u, p, b, pa, wl, w, t, c) in rows
        ],
        schema=TOKEN_WITH_URL,
    )


def test_line_grain_grouping_quirk(spark):
    """block_identification.py:68 groups by (doc, block, word_line):
    one output row per line, not per block."""
    from dpo_ocr_spark.assemble import assemble_blocks

    out = assemble_blocks(_tokens(spark)).collect()
    by_key = {(r.url, r.block, r.word_line): r for r in out}
    assert len(out) == 4  # u1 has 3 lines (2 in block 0), u2 one
    assert by_key[("u1", 0, 0)].block_text == "hello world"  # sorted by word
    assert by_key[("u1", 0, 1)].block_text == "second"  # 0.60 filtered out
    assert by_key[("u1", 1, 2)].block_text == "next"
    assert abs(by_key[("u1", 0, 0)].block_confidence - 0.85) < 1e-9


def test_reading_order_strict_gate(spark):
    from dpo_ocr_spark.assemble import assemble_reading_order

    out = assemble_reading_order(_tokens(spark)).collect()
    by_key = {(r.url, r.block): r for r in out}
    # >= 0.85 keeps world(0.9), second(0.95), solo(1.0)
    assert by_key[("u1", 0)].block_text == "world second"
    assert ("u1", 1) not in by_key  # next=0.71 gated out
    assert by_key[("u2", 0)].block_text == "solo"


def test_determinism_under_repartition(spark):
    """Byte-identical output regardless of physical layout."""
    from dpo_ocr_spark.assemble import assemble_blocks

    t = _tokens(spark)
    a = sorted(map(tuple, assemble_blocks(t).collect()))
    b = sorted(map(tuple, assemble_blocks(t.repartition(7)).collect()))
    assert a == b


def test_captures_of_one_url_assemble_apart(spark):
    """A capture is (url, warc_ts): a re-crawl of one url with other text
    gives its own block rows instead of merging into the first one's."""
    from dpo_ocr_spark.assemble import (
        assemble_blocks,
        assemble_reading_order,
        explode_tokens,
    )
    from dpo_ocr_spark.extract import extract_pages
    from dpo_ocr_spark.schemas import WEB_PAGES

    later = datetime(2024, 6, 1)
    pages = spark.createDataFrame(
        [
            ("u", TS, b"<p>first crawl</p>", None, "en"),
            ("u", later, b"<p>second crawl</p>", None, "en"),
        ],
        schema=WEB_PAGES,
    )
    tokens = explode_tokens(extract_pages(pages))
    for assembled in (assemble_blocks(tokens), assemble_reading_order(tokens)):
        rows = assembled.collect()
        assert sorted(r.block_text for r in rows) == ["first crawl", "second crawl"]
        got = sorted((r.warc_ts, r.block_text, r.n_words) for r in rows)
        assert got == [(TS, "first crawl", 2), (later, "second crawl", 2)]
