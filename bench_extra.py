#!/usr/bin/env python3
"""Supplementary benchmarks — noop-sink isolation (guide §1.4).

``bench.py`` is the FROZEN driver contract; this file exists so the
optimization round can cite phase-isolated numbers without touching it.
Differences from bench.py's methodology:

- every timed query/phase is materialized through the built-in ``noop``
  data source (computes EVERY column of EVERY row, discards the result)
  instead of ``count()`` — so opaque-stage output columns (the nested
  tokens of the extraction stage) are paid for, not pruned;
- jobs are labelled via ``setJobDescription`` for UI/event-log reading.

Usage: python bench_extra.py [repeats]   (env as bench.py: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS; prints one JSON line with min-of-N per entry).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df) -> None:  # noqa: ANN001
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    os.environ.setdefault("SPARK_GRAFT_STAGE_CACHE", "0")
    from dpo_ocr_spark.session import get_spark

    import __spark_entry__ as E
    import bench

    spark = get_spark(
        "bench_extra",
        cpus=CPUS,
        extra_conf={"spark.sql.files.openCostInBytes": "0"},
    )
    sc = spark.sparkContext
    qs = E.queries()

    from dpo_ocr_spark.assemble import assemble_blocks, explode_tokens
    from dpo_ocr_spark.extract import extract_pages

    staged = bench.stage_corpus(spark, SF_DIR, bench.REPLICATE)

    def staged_extract():
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
        return extract_pages(spark.read.parquet(staged))

    def staged_assemble():
        return assemble_blocks(explode_tokens(staged_extract()))

    entries: dict[str, object] = {
        "extract_noop": staged_extract,
        "assemble_noop": staged_assemble,
    }
    for name in bench.HEADLINE:
        entries[name] = (lambda n=name: qs[n](spark, SF_DIR))

    # warm-up (JVM + parquet footers)
    qs["topk_window"](spark, SF_DIR).count()

    out: dict[str, float] = {}
    for label, mk in entries.items():
        best = float("inf")
        for _ in range(repeats):
            sc.setJobDescription(f"bench_extra: {label}")
            t0 = time.time()
            noop(mk())
            best = min(best, time.time() - t0)
            sc.setJobDescription(None)
            if label.startswith(("extract_noop", "assemble_noop")):
                spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        out[label] = round(best, 3)
    print(
        json.dumps(
            {
                "metric": "noop_isolated_seconds",
                "queries": out,
                "sf": SF_DIR,
                "cpus": CPUS,
                "repeats": repeats,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
