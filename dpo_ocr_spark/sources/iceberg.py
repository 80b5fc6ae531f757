"""Iceberg source/sink layer (north_rule: "over Iceberg tables ...
resumable from Iceberg snapshot checkpoints").

The production deployment reads the 10^12-row Common-Crawl-style table
through an Iceberg catalog; this module is the single place that knows
how. Everything here is jar-agnostic:

- pure config/dispatch functions (``iceberg_session_conf``,
  ``is_table_ref``) are unit-tested without any Iceberg runtime;
- reader plumbing goes through the standard DataSource V2 options
  (``snapshot-id``, ``start-snapshot-id``) — see the public Iceberg
  Spark docs (https://iceberg.apache.org/docs/latest/spark-queries/);
- every entry point falls back to parquet paths (the sandbox fixture
  layout) so the same job code runs in both worlds. Time travel over a
  parquet path is a hard error, never a silent full scan.

Resume at scale: ``jobs/run_extract.py`` has two levers, and a restart
can use both. ``--start-snapshot-id`` runs an incremental append-scan
(``incremental_pages``) over only the rows committed after that
snapshot; the operator takes the id from the table's snapshot log, since
the lineage rows (scale.with_lineage) record partitions, not snapshots.
``--resume-from`` anti-joins completed lineage or results
(scale.resume_filter), which covers the partial-failure window inside a
snapshot. Every write appends. The reference's analog is delete-by-project + full rerun
(block_identification.py:63); ours is additive and idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_EXTENSION = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
)
ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_session_conf(
    catalog: str = "web",
    warehouse: str = "s3://warehouse/web",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """Spark confs that attach an Iceberg catalog to a session.

    Pure function — feed it to ``session.get_spark(extra_conf=...)`` or
    emit as ``spark-submit --conf k=v`` pairs (jobs/run_extract.py
    --print-iceberg-conf). ``catalog_type`` is 'hadoop' (path-based) or
    'hive'/'rest' (service catalogs).
    """
    return {
        "spark.sql.extensions": ICEBERG_EXTENSION,
        f"spark.sql.catalog.{catalog}": ICEBERG_CATALOG_CLASS,
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        # planning parallelism matters at 10^12 rows / millions of files
        f"spark.sql.catalog.{catalog}.cache-enabled": "false",
    }


def is_table_ref(source: str) -> bool:
    """catalog.db.table (Iceberg) vs filesystem path (parquet fallback).

    A path contains '/' or a scheme; a table ref is dotted identifiers.
    """
    if "/" in source or source.endswith(".parquet"):
        return False
    return "." in source


def read_web_pages(
    spark: SparkSession, source: str, snapshot_id: int | None = None
) -> DataFrame:
    """Scan the web-pages table, optionally time-traveled.

    Iceberg table ref → format('iceberg') with the ``snapshot-id`` read
    option; parquet path → plain scan (time travel on parquet is a
    contract error — no snapshot log exists).
    """
    if is_table_ref(source):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(source)
    if snapshot_id is not None:
        raise ValueError(
            f"time travel requested but {source!r} is a parquet path, "
            "not an Iceberg table ref"
        )
    return spark.read.parquet(source)


def incremental_pages(
    spark: SparkSession, table: str, start_snapshot_id: int
) -> DataFrame:
    """Incremental append-scan: rows committed AFTER start_snapshot_id
    (exclusive) up to the current snapshot.

    This is the resume primitive at 10^12 rows — a restart reprocesses
    only the snapshot delta, never the full table.
    """
    if not is_table_ref(table):
        raise ValueError(f"incremental scan needs an Iceberg table ref, got {table!r}")
    return (
        spark.read.format("iceberg")
        .option("start-snapshot-id", str(start_snapshot_id))
        .load(table)
    )


def write_results(df: DataFrame, target: str) -> None:
    """Results/lineage sink, append only: Iceberg ``writeTo`` (fanout on
    — input is salted, not sorted by any partition spec) or parquet path
    append."""
    if is_table_ref(target):
        df.writeTo(target).option("fanout-enabled", "true").append()
        return
    df.write.mode("append").parquet(target)
