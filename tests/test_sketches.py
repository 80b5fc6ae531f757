"""Sketch-layer tests (ops/sketches.py): each sketch path against the
exact aggregate it stands in for."""

from __future__ import annotations

from pyspark.sql import functions as F

import dpo_ocr_spark.ops.dedup as D
import dpo_ocr_spark.ops.sketches as SK

SF = "/root/testdata/sf0.001"


def test_source_counts_cms_exact(spark):
    got = {
        r["source"]: r["n_docs"]
        for r in SK.source_counts_cms(spark, SF).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == exact


def test_term_topk_matches_exact_groupby(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = (
        docs.select(F.explode(D._words()).alias("term"))
        .groupBy("term").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term").limit(SK.TOPK_K)
    )
    assert [tuple(r) for r in SK.term_topk_sketch(spark, SF).collect()] == [
        tuple(r) for r in exact.collect()
    ]


def test_hll_flags_all_true_and_global_is_union(spark):
    rows = {r["lang"]: r for r in SK.gram_cardinality_hll(spark, SF).collect()}
    assert all(r["est_ok"] for r in rows.values())
    assert "ALL" in rows
    per_lang_max = max(
        r["n_distinct"] for k, r in rows.items() if k != "ALL"
    )
    # global distinct >= any single lang's, and <= the sum
    assert rows["ALL"]["n_distinct"] >= per_lang_max
    assert rows["ALL"]["n_distinct"] <= sum(
        r["n_distinct"] for k, r in rows.items() if k != "ALL"
    )
