"""Driver-contract smoke tests: entry(), queries()/oracle_sql() wiring."""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    cols = set(df.columns)
    assert {"url", "block", "word_line", "block_text"} <= cols


def test_queries_oracles_aligned():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)


def test_extract_text_nonempty(spark):
    df = E.queries()["extract_text"](spark, "/root/testdata/sf0.001")
    rows = df.limit(5).collect()
    assert all(r.text and "\n" not in r.url for r in rows)


def test_corpus_gen_equivalence(spark):
    """Arrow corpus generator is row-identical to the pandas reference."""
    from datetime import timedelta

    import pandas as pd

    from dpo_ocr_spark import corpus as C
    from dpo_ocr_spark.corpus import WEB_PAGES, build_web_pages

    def reference_batches(it):
        # nested, so Spark pickles it by value for its Python workers
        for pdf in it:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "url": [C.page_url(i) for i in ids],
                    "warc_ts": [C.EPOCH + timedelta(seconds=i) for i in ids],
                    "html": [
                        C.render_layout(i, t) if C.is_layout_doc(i) else C.render_html(i, t)
                        for i, t in zip(ids, pdf["text"])
                    ],
                    "text": [None] * len(pdf),  # engine must fill (FIXTURES.md §1)
                    "lang": pdf["lang"].tolist(),
                }
            )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    ref = sorted(map(repr, docs.mapInPandas(reference_batches, schema=WEB_PAGES).collect()))
    hot = sorted(map(repr, build_web_pages(spark, "/root/testdata/sf0.001").collect()))
    assert ref == hot
