#!/usr/bin/env python3
"""Production job entry point (spark-submit shape, north_star).

Ship as::

    python jobs/make_pyfiles.py          # → dist/dpo_ocr_spark.zip
    spark-submit --py-files dist/dpo_ocr_spark.zip \
        --conf spark.executorEnv.PYTHONPATH=dist/dpo_ocr_spark.zip \
        $(python jobs/run_extract.py --print-iceberg-conf) \
        jobs/run_extract.py \
        --input  web.crawl.pages            # Iceberg ref or parquet path
        --output web.crawl.extracted \
        --lineage web.crawl.lineage \
        --resume-from /path/to/lineage_completed   # optional (anti-join)
        --start-snapshot-id 123456          # optional (snapshot resume)
        --salt-partitions 4096

Pipeline: scan (full, time-traveled, or incremental-from-snapshot) →
(resume anti-join) → salted repartition → Arrow decode → write results +
per-partition lineage rows (partition id, input count, bytes, checkpoint
watermark) in the same run — the failed-range-resume contract of the
north rule. The two resume levers compose: --start-snapshot-id skips
whole committed snapshots (cheap, metadata-only), --resume-from covers
the partial-failure window inside a snapshot. On a real cluster
--salt-partitions sizes each task at ~128 MB of payload.
"""

from __future__ import annotations

import argparse


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input")
    p.add_argument("--output")
    p.add_argument("--lineage")
    p.add_argument("--resume-from", default=None)
    p.add_argument("--snapshot-id", type=int, default=None)
    p.add_argument("--start-snapshot-id", type=int, default=None)
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--print-iceberg-conf", action="store_true")
    args = p.parse_args()

    from dpo_ocr_spark.sources import (
        iceberg_session_conf,
        incremental_pages,
        read_web_pages,
        write_results,
    )

    if args.print_iceberg_conf:
        print(
            " ".join(
                f"--conf {k}={v}" for k, v in iceberg_session_conf().items()
            )
        )
        return 0
    if not (args.input and args.output and args.lineage):
        p.error("--input/--output/--lineage are required to run the job")

    from pyspark.sql import SparkSession

    from dpo_ocr_spark.extract import extract_pages
    from dpo_ocr_spark.scale import resume_filter, salted_repartition, with_lineage
    from dpo_ocr_spark.session import WORKER_DAEMON

    # conf comes from spark-submit, the worker daemon from the package
    spark = SparkSession.builder.config(*WORKER_DAEMON).getOrCreate()
    if args.start_snapshot_id is not None:
        pages = incremental_pages(spark, args.input, args.start_snapshot_id)
    else:
        pages = read_web_pages(spark, args.input, snapshot_id=args.snapshot_id)
    if args.resume_from:
        done = spark.read.parquet(args.resume_from)
        pages = resume_filter(pages, done)
    parts = args.salt_partitions or spark.sparkContext.defaultParallelism * 2
    pages = salted_repartition(pages, parts)
    extracted = extract_pages(pages)
    results, lineage = with_lineage(extracted, num_buckets=parts)
    write_results(results, args.output)
    write_results(lineage, args.lineage)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
