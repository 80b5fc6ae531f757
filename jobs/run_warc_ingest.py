#!/usr/bin/env python3
"""WARC ingestion job: Common-Crawl archives → web_pages table (+ CDX).

Ship as::

    python jobs/make_pyfiles.py          # → dist/dpo_ocr_spark.zip
    spark-submit --py-files dist/dpo_ocr_spark.zip \
        --conf spark.executorEnv.PYTHONPATH=dist/dpo_ocr_spark.zip \
        jobs/run_warc_ingest.py \
        --warc-dir  /data/cc/segments/…   # or --manifest paths.txt
        --pages     web.crawl.pages       # Iceberg ref or parquet path
        --cdx       web.crawl.cdx \
        --extract-to web.crawl.extracted --lineage web.crawl.lineage \
        --wet-dir   /data/cc/wet          # optional WET egress

Shape: manifest frame (one task per ~1 GB archive — the Common Crawl
parallelism unit) → streamed gzip-member split + HTTP decode
(sources/warc.read_warc; peak memory one chunk + one record) → the
input_hint web_pages table + the CDX index rows, committed together.
With --extract-to the extraction stage runs in the same job: salted
repartition on url-hash defuses host skew before the Arrow decode stage,
and per-partition lineage rows land beside the results (north_rule
resume contract).  A failed run re-fetches only missing records by CDX
offset (sources/warc.fetch_records) instead of rescanning archives.
"""

from __future__ import annotations

import argparse


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--warc-dir")
    p.add_argument("--manifest")
    p.add_argument("--pages")
    p.add_argument("--cdx")
    p.add_argument("--extract-to")
    p.add_argument("--lineage")
    p.add_argument("--wet-dir")
    p.add_argument("--salt-partitions", type=int, default=None)
    args = p.parse_args()
    if not (args.warc_dir or args.manifest):
        p.error("one of --warc-dir / --manifest is required")
    if not (args.pages or args.extract_to):
        p.error("at least one of --pages / --extract-to is required")
    if args.extract_to and not args.lineage:
        p.error("--extract-to requires --lineage (resume contract)")

    from pyspark.sql import SparkSession

    from dpo_ocr_spark.sources import warc as W
    from dpo_ocr_spark.sources.iceberg import write_results
    from dpo_ocr_spark.session import WORKER_DAEMON

    # conf comes from spark-submit, the worker daemon from the package
    spark = SparkSession.builder.config(*WORKER_DAEMON).getOrCreate()
    if args.manifest:
        with open(args.manifest) as f:
            paths = [line.strip() for line in f if line.strip()]
    else:
        paths = W.list_warc_paths(spark, args.warc_dir)
    records = W.read_warc(spark, paths)
    n_outputs = sum(map(bool, (args.pages, args.cdx, args.extract_to)))
    if n_outputs > 1:
        # each output below is its own action: without a persist every
        # one re-streams and re-gunzips every archive (at CC scale that
        # is tens of TB of repeated I/O)
        records = records.persist()
    pages = W.warc_pages(records)

    if args.pages:
        write_results(pages, args.pages)
    if args.cdx:
        index = records.select(
            "url", "warc_ts",
            records.content_type.alias("mime"),
            "http_status", "payload_digest",
            records.rec_length.alias("payload_len"),  # container-level size
            "warc_file", "rec_offset", "rec_length",
        )
        write_results(W.cdx_frame(index), args.cdx)

    if args.extract_to:
        from dpo_ocr_spark.extract import extract_pages
        from dpo_ocr_spark.scale import salted_repartition, with_lineage

        parts = args.salt_partitions or spark.sparkContext.defaultParallelism * 2
        extracted = extract_pages(salted_repartition(pages, parts))
        results, lineage = with_lineage(extracted, num_buckets=parts)
        # results, lineage (and WET) are separate actions over one frame:
        # persisted, the salt shuffle and the decode run once, not per output
        results = results.persist()
        write_results(results, args.extract_to)
        write_results(lineage, args.lineage)
        if args.wet_dir:
            wet = results.select("url", "warc_ts", "lang", "text")
            W.write_wet(wet, args.wet_dir).count()
        results.unpersist()
    if n_outputs > 1:
        records.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
