"""Degenerate-input sweep: empty tables and empty-text documents through
the round-2 ops — none may raise (empty or trivial frames are fine), and
an empty table yields the same schema as real data.

The review pass caught one empty-table crash (embedding_neardup_lsh) and
one empty-table schema drift (lsh_topk lost its ``rank`` column); this
pins both properties for the whole new-op surface.
"""

from __future__ import annotations

import pytest
from sf_fixture import SD


def _write_empty_tables(spark, tmp_path):
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))


def _ops():
    from dpo_ocr_spark.ops import curation as C, dedup as D, events as EV
    from dpo_ocr_spark.ops.similarity import (
        brute_force_topk,
        embedding_neardup_lsh,
        ivf_topk,
        kmeans_centroids,
        lsh_topk,
        semantic_prune,
    )

    return [
        kmeans_centroids,
        brute_force_topk,
        lsh_topk,
        ivf_topk,
        EV.asof_join,
        EV.sessionize,
        EV.value_quantiles,
        EV.props_extract,
        C.decontaminate,
        C.repetition_stats,
        C.training_order,
        C.tfidf_top_terms,
        C.pii_scrub,
        C.unicode_normalize,
        C.url_normalize,
        C.curated_training_set,
        D.incremental_dedup,
        embedding_neardup_lsh,
        D.cluster_representatives,
        semantic_prune,
    ]


def test_new_ops_survive_empty_tables(spark, tmp_path):
    _write_empty_tables(spark, tmp_path)
    for fn in _ops():
        empty = fn(spark, str(tmp_path))
        rows = empty.collect()
        assert rows == [], (fn.__name__, rows)
        assert empty.schema == fn(spark, SD).schema, fn.__name__


def test_new_ops_survive_empty_text_doc(spark, tmp_path):
    """One document whose text is the empty string: split('') yields one
    empty token — no div-by-zero, no crash; every doc-table op returns a
    row (or a defined empty result)."""
    _write_empty_tables(spark, tmp_path)
    spark.createDataFrame(
        [(1, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from dpo_ocr_spark.ops import curation as C, dedup as D

    for fn in (
        C.repetition_stats,
        C.training_order,
        C.tfidf_top_terms,
        C.pii_scrub,
        C.unicode_normalize,
        C.url_normalize,
        C.decontaminate,
        D.incremental_dedup,
        D.cluster_representatives,
    ):
        fn(spark, str(tmp_path)).collect()  # must not raise


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
