"""Gate queries that no other test runs, checked against their DuckDB
oracles at sf0.001: the audio query, the WARC/WET/CDX container
round trips (queries_warc.py), the Structured Streaming drains
(streaming/stream.py through their query wrappers) and the embedding
queries (ops/similarity.py)."""

from __future__ import annotations

import pytest
from sf_fixture import SD


@pytest.fixture(scope="module")
def con():
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SD}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "audio_features",
        "warc_extract",
        "warc_fetch_subset",
        "cdx_urlkeys",
        "wet_langs",
        "streaming_extract",
        "streaming_dedup",
        "streaming_window_counts",
        "streaming_interval_join",
        "streaming_sessionize",
        "embedding_neardup",
        "ann_brute_force",
        "ann_lsh",
        "ann_ivf",
        "ann_ivf_kmeans",
        "kmeans_centroids",
        "semantic_prune",
    ],
)
def test_query_matches_oracle_sf0001(spark, con, name):
    import __spark_entry__ as E

    got = E.queries()[name](spark, SD)
    res = con.execute(E.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    assert got.columns == cols
    assert sorted(map(tuple, got.collect())) == sorted(want)
