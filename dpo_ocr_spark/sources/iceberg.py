"""Iceberg source/sink layer (north_rule: "over Iceberg tables ...
resumable from Iceberg snapshot checkpoints").

The production deployment reads the 10^12-row Common-Crawl-style table
through an Iceberg catalog; this module is the single place that knows
how. Everything here is jar-agnostic:

- pure config/dispatch functions (``iceberg_session_conf``,
  ``is_table_ref``) are unit-tested without any Iceberg runtime;
- reader/writer plumbing goes through the standard DataSource V2
  options (``snapshot-id``, ``as-of-timestamp``, ``start-snapshot-id``,
  ``end-snapshot-id``) — see the public Iceberg Spark docs
  (https://iceberg.apache.org/docs/latest/spark-queries/);
- every entry point falls back to parquet paths (the sandbox fixture
  layout) so the same job code runs in both worlds. Time travel over a
  parquet path is a hard error, never a silent full scan.

Resume contract at scale: each run records the table's snapshot id next
to its per-partition lineage rows (scale.with_lineage). A restart does
an incremental append-scan from that snapshot (``incremental_pages`` with
the checkpointed id as ``start_snapshot_id``) — only rows committed
after the checkpoint are reprocessed, and the anti-join against
completed lineage (scale.resume_filter) covers the partial-failure window
inside a snapshot. The reference's analog is
delete-by-project + full rerun (block_identification.py:63); ours is
additive and idempotent.
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


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def is_table_ref(source: str) -> bool:
    """catalog.db.table (Iceberg) vs filesystem path (parquet fallback).

    A path contains '/' or a scheme; a table ref is dotted identifiers.
    """
    if "/" in source or source.endswith(".parquet"):
        return False
    return "." in source


def read_web_pages(
    spark: SparkSession,
    source: str,
    snapshot_id: int | None = None,
    as_of_ts: str | None = None,
) -> DataFrame:
    """Scan the web-pages table, optionally time-traveled.

    Iceberg table ref → format('iceberg') with ``snapshot-id`` /
    ``as-of-timestamp`` read options; parquet path → plain scan (time
    travel on parquet is a contract error — no snapshot log exists).
    """
    if is_table_ref(source):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        if as_of_ts is not None:
            reader = reader.option("as-of-timestamp", as_of_ts)
        return reader.load(source)
    if snapshot_id is not None or as_of_ts is not None:
        raise ValueError(
            f"time travel requested but {source!r} is a parquet path, "
            "not an Iceberg table ref"
        )
    return spark.read.parquet(source)


def incremental_pages(
    spark: SparkSession,
    table: str,
    start_snapshot_id: int,
    end_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental append-scan: rows committed AFTER start_snapshot_id
    (exclusive) up to end_snapshot_id (inclusive; default current).

    This is the resume primitive at 10^12 rows — a restart reprocesses
    only the snapshot delta, never the full table.
    """
    if not is_table_ref(table):
        raise ValueError(f"incremental scan needs an Iceberg table ref, got {table!r}")
    reader = (
        spark.read.format("iceberg")
        .option("start-snapshot-id", str(start_snapshot_id))
    )
    if end_snapshot_id is not None:
        reader = reader.option("end-snapshot-id", str(end_snapshot_id))
    return reader.load(table)


def latest_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Current snapshot id from the table's ``.snapshots`` metadata table
    — recorded alongside lineage as the run's checkpoint."""
    row = (
        spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "  # noqa: S608 — table ref from job config
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
    )
    return int(row[0].snapshot_id) if row else None


def write_results(
    df: DataFrame, target: str, mode: str = "append"
) -> None:
    """Results/lineage sink: Iceberg ``writeTo`` (fanout on — input is
    salted, not sorted by any partition spec) or parquet path append."""
    if is_table_ref(target):
        writer = df.writeTo(target).option("fanout-enabled", "true")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    df.write.mode(mode).parquet(target)
