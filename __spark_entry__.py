"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Engine: ``dpo_ocr_spark`` — see SURVEY.md §2 for the operator inventory
each query key maps to.  This module is the one loader of the query
layer: importing the seven ``queries_*`` modules (after ``queries``, the
registry they all import) registers every query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dpo_ocr_spark import (  # noqa: F401 (each module registers on import)
    queries as Q,
    queries_ops,
    queries_eval,
    queries_curation,
    queries_canary,
    queries_cascade,
    queries_sinks,
    queries_warc,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract + assemble confidence-filtered blocks at sf0.001."""
    from dpo_ocr_spark.pipeline import run_block_assembly

    return run_block_assembly(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query; the 50 the driver samples (``Q._FIRST``)
    come first, the rest in registration order."""
    return {n: Q.QUERIES[n] for n in Q._FIRST} | Q.QUERIES


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLES)
