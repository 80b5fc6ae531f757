"""Gate queries for the WARC/WET/CDX container boundary (sources/warc.py).

Each query runs the REAL container code — archives are written to scratch,
read back record-by-record, and only then checked — while the DuckDB twin
re-derives the expected values from ``documents`` alone via the corpus
determinism contract (queries.py module docstring).  So a hash match
proves the whole loop: page synthesis → WARC record framing → gzip member
layout → HTTP decode (incl. chunked / gzip-encoded bodies, which
``exercise_http_codings`` deliberately mixes in) → extraction, with no
byte allowed to shift anywhere in between.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import build_web_pages
from .queries import _ETEXT_CTE, _URL_SQL, _extracted, register
from .session import scratch_dir
from .sources import warc as W

# ---------------------------------------------------------------------------
# The gate's four WARC queries share one written archive through the stage
# memo (bench disables the memo, so its timings include the write)
# ---------------------------------------------------------------------------


def _archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC_INDEX of the archive written from ``sf_dir``'s pages; its
    ``warc_file`` column holds each archive's full path."""
    from . import stagecache

    def build() -> DataFrame:
        pages = build_web_pages(spark, sf_dir, partitions=8)
        out = scratch_dir("warc_gate_")
        return W.write_warc(pages, out, exercise_http_codings=True)

    index = stagecache.shared(spark, f"warcidx:{sf_dir}", build)
    index.count()  # land the archives before any reader lists them
    return index


# ---------------------------------------------------------------------------
# warc_extract: archive round trip piped through the extraction stage
# ---------------------------------------------------------------------------


@register(
    "warc_extract",
    f"""
WITH {_ETEXT_CTE}
SELECT url, md5(etext) AS text_md5, CAST(length(etext) AS BIGINT) AS n_chars
FROM paras
""",
)
def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages → .warc.gz (member per record, chunked/gzipped HTTP bodies
    mixed in) → streamed member split → HTTP decode → extraction.  The
    md5 matches only if every payload byte survived the container."""
    from .extract import extract_pages

    index = _archive(spark, sf_dir)
    paths = sorted(r[0] for r in index.select("warc_file").distinct().collect())
    back = W.read_warc(spark, paths)
    extracted = extract_pages(W.warc_pages(back))
    return extracted.select(
        "url",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# warc_fetch_subset: CDX-driven ranged random access (the resume path)
# ---------------------------------------------------------------------------


@register(
    "warc_fetch_subset",
    f"""
WITH {_ETEXT_CTE}
SELECT url, md5(etext) AS text_md5
FROM paras WHERE doc_id % 7 = 0
""",
)
def _q_warc_fetch_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-reads ONLY the index rows of doc_id%7=0 (offset/length from
    the writer's index — the CDX content) and re-extracts just those:
    value-checks that every recorded offset/length frames a complete,
    correct record."""
    from .extract import extract_pages

    index = _archive(spark, sf_dir)
    sub = index.filter(F.substring("url", -6, 6).cast("int") % 7 == 0)
    got = W.fetch_records(spark, sub)
    extracted = extract_pages(W.warc_pages(got))
    return extracted.select(
        "url", F.md5(F.encode("text", "UTF-8")).alias("text_md5")
    )


# ---------------------------------------------------------------------------
# cdx_urlkeys: SURT canonicalization + 14-digit timestamp rendering
# ---------------------------------------------------------------------------


@register(
    "cdx_urlkeys",
    f"""
SELECT
  'org,example,host-' ||
    CASE WHEN doc_id % 10 = 0 THEN 'hot' ELSE CAST(doc_id % 20 AS VARCHAR) END
    || ')/doc/' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS urlkey,
  strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
           '%Y%m%d%H%M%S') AS cdx_ts,
  {_URL_SQL} AS url,
  CASE WHEN doc_id % 5 = 4 THEN 'application/json' ELSE 'text/html' END AS mime,
  200 AS http_status
FROM documents
""",
)
def _q_cdx_urlkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDX view of the written archive: SURT urlkey (JVM-side regex/
    array expressions, no Python) + yyyyMMddHHmmss timestamp + mime sniff
    recorded at write time."""
    index = _archive(spark, sf_dir)
    return W.cdx_frame(index).select(
        "urlkey", "cdx_ts", "url", "mime", "http_status"
    )


# ---------------------------------------------------------------------------
# wet_langs: WET conversion-record round trip, per-language rollup
# ---------------------------------------------------------------------------


@register(
    "wet_langs",
    f"""
WITH {_ETEXT_CTE},
d AS (SELECT p.doc_id, d.lang, length(p.etext) AS n FROM paras p
      JOIN documents d USING (doc_id))
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_chars
FROM d GROUP BY lang
""",
)
def _q_wet_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extraction → WET sink (conversion records with the language header)
    → WET source → per-language rollup.  Counts and character sums match
    only if every text and its language tag survived the round trip."""
    out = scratch_dir("wet_gate_")
    ext = _extracted(spark, sf_dir).select("url", "warc_ts", "lang", "text")
    W.write_wet(ext, out).count()
    back = W.read_wet(spark, W.list_warc_paths(spark, out, suffix=".warc.wet.gz"))
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    )
