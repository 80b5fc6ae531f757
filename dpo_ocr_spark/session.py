"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we would ship
via ``spark-submit --py-files`` to a multi-executor cluster — every knob here
is chosen for the 100 TB case (AQE for runtime re-planning and skew-join
splitting, Arrow for the pandas-UDF extraction stage, bounded Arrow batch
sizes because ``html`` payloads are large). Every Python worker forks from
``worker_daemon.py``, which pays the worker's import and heap costs once
instead of on every task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Row cap on Arrow batches. Per-batch IPC overhead dominated the decode
# stage at 2048 rows (local[32]: 17.9k docs/s vs ~48k at 8192+); above
# 8192 extraction gains ~5% more but the big pinned batches GC-destabilize
# the downstream explode+shuffle (assemble at local[32]: 13-26s vs 5-12s)
# — 8192 is the measured sweet spot. Memory safety against fat payloads
# (~1 MB pages at real scale) is NOT this knob's job: page payloads span
# ~1 KB to ~1 MB, so the engine also bounds every batch at 16 MB
# (arrow.maxBytesPerBatch, set next to this cap in get_spark) before it
# reaches a Python worker, and the row cap stays payload-agnostic.
ARROW_MAX_RECORDS = 8192

# The Python worker daemon: set here and by every spark-submit job under
# jobs/, before its session starts.
WORKER_DAEMON = ("spark.python.daemon.module", "dpo_ocr_spark.worker_daemon")


def get_spark(
    app_name: str = "dpo_ocr_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else 32.
    Shuffle partitions are max(cores, 16), which AQE coalesces — on a
    real cluster this would be sized to ~128 MB post-shuffle partitions.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(16 << 20))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(*WORKER_DAEMON)
        # local mode: the driver heap IS the cluster memory — size it for
        # 32 concurrent tasks buffering Arrow batches + parquet blocks
        # (8g was measured to GC-thrash local[32] down to 0.27× of its
        # 48g throughput on the extraction bench)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit — streaming query
    wrappers stage a source copy + checkpoint per run; without cleanup
    repeated gate runs accumulate unbounded /tmp."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
