"""Driver-contract smoke tests: entry(), queries()/oracle_sql() wiring."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as E
from dpo_ocr_spark.queries import _FIRST
from sf_fixture import SD

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# imports argv[1] first, then the driver contract, and prints the registry
# it sees: query names in order and the md5 of every oracle string
_REGISTRY_SNAPSHOT = """
import hashlib, importlib, json, sys
importlib.import_module(sys.argv[1])
import __spark_entry__ as E
print(json.dumps({
    "names": list(E.queries()),
    "oracles": {n: hashlib.md5(s.encode()).hexdigest()
                for n, s in E.oracle_sql().items()},
}))
"""


def _registry_after_importing(module: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _REGISTRY_SNAPSHOT, module],
        cwd=REPO, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout)


@pytest.fixture(scope="module")
def driver_registry():
    return _registry_after_importing("__spark_entry__")


@pytest.mark.parametrize("first", [
    "__spark_entry__",
    "dpo_ocr_spark.queries",
    "dpo_ocr_spark.queries_ops",
    "dpo_ocr_spark.queries_eval",
    "dpo_ocr_spark.queries_curation",
    "dpo_ocr_spark.queries_canary",
    "dpo_ocr_spark.queries_cascade",
    "dpo_ocr_spark.queries_sinks",
    "dpo_ocr_spark.queries_warc",
])
def test_registry_is_import_order_independent(driver_registry, first):
    """Whichever query module a fresh interpreter imports first, the
    driver contract lists the same queries with the 50 driver-sampled
    names first, and the same oracle strings."""
    got = _registry_after_importing(first)
    assert set(got["names"]) == set(driver_registry["names"])
    assert got["names"][:50] == _FIRST
    assert got["oracles"] == driver_registry["oracles"]


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
    df = E.queries()["extract_text"](spark, SD)
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

    docs = spark.read.parquet(f"{SD}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    ref = sorted(map(repr, docs.mapInPandas(reference_batches, schema=WEB_PAGES).collect()))
    hot = sorted(map(repr, build_web_pages(spark, SD).collect()))
    assert ref == hot
