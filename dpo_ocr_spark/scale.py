"""Scale layer: salted repartition, per-partition lineage, resumability.

north_rule requirements (BASELINE.json:14): partitioning/shuffle/skew
handled explicitly; per-partition lineage rows (partition id, input count,
bytes, checkpoint watermark) written alongside results; failed partition
ranges resumable.

Skew: the corpus deliberately concentrates ~10% of urls on one host
(FIXTURES.md §1).  At 10¹² rows a host-hash partitioning would melt one
executor; we salt on ``xxhash64(url)`` — uniform over urls regardless of
host skew — before the heavy decode stage.  Downstream assembly groups
per capture (url, warc_ts), a handful of rows each, so AQE handles any
residual skew (``spark.sql.adaptive.skewJoin.enabled``).

Resume: lineage is written with results; a restarted job anti-joins its
input against completed work — by capture (url, warc_ts) when a results
frame is given, else by CONTENT-DERIVED partition id
(``pmod(hash(xxhash64(url)), num_buckets)`` from a lineage frame, exactly
the assignment ``salted_repartition`` produced, so a completed
partition's rows are re-identified from the urls alone).  Any other
frame, a url-only one included, raises ``ValueError``.
Time/watermark is never used as a resume predicate: under hash
partitioning every partition spans the full timestamp range, so a
max-watermark filter would silently drop unprocessed rows of failed
partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Compressed parquet bytes a single gen→decode task should own.  The
# decode stage's work is proportional to payload bytes (≈15× the
# compressed document bytes on this corpus), so ~32 KB compressed ≈
# 0.5 MB of generated payload ≈ a few ms of kernel work per task — big
# enough that task dispatch + Python-worker round trips stop dominating.
DECODE_TASK_INPUT_BYTES = 32 << 10


def decode_partitions(
    spark: SparkSession,
    sf_dir: str,
    table: str = "documents.parquet",
    per_task_bytes: int = DECODE_TASK_INPUT_BYTES,
) -> int:
    """Scale-adaptive salt-partition count for the gen→decode stage
    (guide §2: derive partitioning from input size, never a constant
    tuned to one scale).

    One decode task per ``DECODE_TASK_INPUT_BYTES`` of compressed input,
    clamped to [1, 2×cores].  At production scale the clamp saturates to
    the balanced-salt default (2 tasks per core); at gate/bench scale it
    stops paying dozens of task dispatches + Python-worker round trips
    for a few-MB corpus (measured at sf0.1 on local[32]: gen+extract
    1.22 s at 64 partitions vs 0.56 s at 16).  Non-local storage (no
    stat-able path) keeps the balanced default.
    """
    path = os.path.join(sf_dir, table)
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        nbytes = 0
    cores = spark.sparkContext.defaultParallelism
    if not nbytes:
        return cores * 2  # unknown size: keep the balanced default
    return max(1, min(cores * 2, -(-nbytes // per_task_bytes)))


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit skew-defusing exchange before a heavy narrow stage.

    Hash-repartition on ``xxhash64(url)`` — byte-uniform even when the url
    space is host-skewed (many urls on one host hash apart).  One shuffle,
    after which the expensive decode work is balanced across executors.

    The resulting partition id is a pure function of the url:
    ``pmod(hash(xxhash64(url)), num_partitions)`` (Spark's HashPartitioning
    = Murmur3 seed 42, which is also ``F.hash``).  ``resume_bucket``
    recomputes it; a pytest pins the equality against
    ``spark_partition_id`` so a Spark-internals change fails loudly.
    """
    return df.repartition(num_partitions, F.xxhash64(F.col("url")))


def resume_bucket(num_buckets: int):
    """The content-derived partition id ``salted_repartition`` assigns:
    pmod(Murmur3(xxhash64(url)), n).  Used by resume to re-identify a
    completed partition's rows from their urls alone."""
    return F.pmod(F.hash(F.xxhash64(F.col("url"))), F.lit(num_buckets)).cast("int")


def with_lineage(extracted: DataFrame, num_buckets: int) -> tuple[DataFrame, DataFrame]:
    """Attach partition ids and derive the lineage frame (LINEAGE schema).

    Returns (results_with_partition_id, lineage).  Lineage aggregates are
    computed from the same frame in one extra pass.  The two frames are
    NOT committed atomically: ``jobs/run_extract.py`` writes them with
    two ``write_results`` calls, i.e. two Iceberg commits.  A crash
    between the commits leaves results with no lineage, and a
    lineage-based resume then re-runs those partitions; deriving
    lineage from the committed results would close that gap.
    ``num_buckets`` (the salt-partition count) is recorded on every
    lineage row so a resume run can recompute each url's partition
    assignment without the data (see ``resume_filter``).
    """
    tagged = extracted.withColumn("partition_id", F.spark_partition_id())
    lineage = tagged.groupBy("partition_id").agg(
        F.count("*").alias("input_count"),
        F.sum("n_bytes").alias("input_bytes"),
        F.max("warc_ts").alias("checkpoint_watermark"),
    ).withColumn("num_buckets", F.lit(num_buckets))
    return tagged, lineage


def resume_filter(pages: DataFrame, lineage_done: DataFrame) -> DataFrame:
    """Re-run predicate: keep only pages NOT covered by completed lineage.

    Two sound forms, both content-based (the reference's analog is
    delete-by-project + rerun, block_identification.py:63; ours is
    additive and idempotent):

    * capture-bearing frame (url + warc_ts, e.g. the results table
      itself): null-safe anti-join on (url, warc_ts) — a capture is
      (url, warc_ts), so an unprocessed re-crawl of a done url still runs.
    * LINEAGE-schema frame (partition_id + num_buckets): recompute each
      page's partition id with the same pure function salted_repartition
      used and anti-join on completed partition ids.  A lineage row
      attests its whole partition committed (task commits are atomic and
      lineage is written only after the results), so those partitions
      are skipped.  Results and lineage are two commits, not one (see
      ``with_lineage``): a partition whose results committed but whose
      lineage did not is re-run, and its result rows are appended
      again.

    Empty lineage ⇒ everything pending.  Any other frame raises: a
    url-only frame would mark every capture of a listed url done, so an
    unprocessed re-crawl would be skipped, and a silent time/watermark
    filter would drop unprocessed rows of failed partitions (every hash
    partition spans the full timestamp range).
    """
    cols = set(lineage_done.columns)
    if {"url", "warc_ts"} <= cols:
        done = lineage_done.select(
            F.col("url").alias("__done_url"), F.col("warc_ts").alias("__done_ts")
        )
        return pages.join(
            done,
            (F.col("url") == F.col("__done_url"))
            & F.col("warc_ts").eqNullSafe(F.col("__done_ts")),
            "left_anti",
        )
    if {"partition_id", "num_buckets"} <= cols:
        # num_buckets is constant per run; lineage is one row per partition
        # (thousands at scale) so this collect is metadata-sized.
        n_vals = [
            r[0]
            for r in lineage_done.select("num_buckets").distinct().collect()
        ]
        if not n_vals:
            return pages  # empty lineage → nothing completed
        if len(n_vals) != 1:
            raise ValueError(
                "lineage mixes num_buckets values "
                f"{sorted(n_vals)}: runs with different salt-partition "
                "counts are not resumable against each other"
            )
        done = lineage_done.select(
            F.col("partition_id").alias("__done_bucket")
        ).distinct()
        return (
            pages.withColumn("__bucket", resume_bucket(n_vals[0]))
            .join(
                F.broadcast(done),
                F.col("__bucket") == F.col("__done_bucket"),
                "left_anti",
            )
            .drop("__bucket")
        )
    raise ValueError(
        "resume_filter needs captures (url, warc_ts) or LINEAGE-schema "
        "columns (partition_id, num_buckets); refusing to guess — a url "
        "or watermark filter would silently skip pending rows"
    )


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Guarantee a frame enters its compute stage with ≥ core-count
    partitions; no-op when the scan already splits enough.

    Why: parquet splits at ROW-GROUP granularity — a single-row-group
    file scans as ONE task, and every downstream narrow stage (JVM or
    Arrow-UDF) inherits that 1-task parallelism. Local fixtures are
    single-group files, so this fires there; at production scale an
    Iceberg table scans as thousands of splits and this is a metadata
    check only (never a 100 TB shuffle)."""
    spark = df.sparkSession
    min_parts = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
