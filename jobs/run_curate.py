#!/usr/bin/env python3
"""Curation job entry point (spark-submit shape) — the second shipped
pipeline: raw documents table → curated, deduplicated, shard-ordered
training set plus a per-document audit trail.

Ship as::

    python jobs/make_pyfiles.py          # → dist/dpo_ocr_spark.zip
    spark-submit --py-files dist/dpo_ocr_spark.zip \
        --conf spark.executorEnv.PYTHONPATH=dist/dpo_ocr_spark.zip \
        jobs/run_curate.py \
        --input  /path/with/documents.parquet \
        --output /path/curated \
        --audit  /path/audit           # optional: full verdict columns

Stages (all oracle-checked individually via the query registry):
quality/language/dedup verdict (``curation_verdict``) → keepers ordered
into deterministic training shards (``curated_training_set``
composition).  The audit sink writes every document's verdict columns —
the provenance record a data-governance review asks for.  Engine- and
cluster-size-independent by construction (hash-based ordering, integer
verdict arithmetic), so re-running on a different cluster yields
byte-identical shards.
"""

from __future__ import annotations

import argparse


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="dir containing documents.parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--audit", default=None)
    args = p.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql import SparkSession

    from dpo_ocr_spark.ops.curation import curated_training_set, order_frame
    from dpo_ocr_spark.ops.textstats import curation_verdict
    from dpo_ocr_spark.session import WORKER_DAEMON

    # conf comes from spark-submit, the worker daemon from the package
    spark = SparkSession.builder.config(*WORKER_DAEMON).getOrCreate()
    sf_dir = args.input
    if args.audit:
        # compute the verdict ONCE: write the audit, then derive the
        # keepers from the written parquet instead of re-running the
        # expensive dedup stage inside curated_training_set
        curation_verdict(spark, sf_dir).write.mode("overwrite").parquet(
            args.audit
        )
        kept = (
            spark.read.parquet(args.audit)
            .filter(F.col("keep"))
            .select("doc_id")
        )
        curated = order_frame(kept)
    else:
        curated = curated_training_set(spark, sf_dir)
    # one file per shard: the training loader streams shards sequentially
    curated.repartition("shard").sortWithinPartitions(
        "shard", "pos"
    ).write.partitionBy("shard").mode("overwrite").parquet(args.output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
