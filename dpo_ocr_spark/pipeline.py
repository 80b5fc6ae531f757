"""End-to-end extraction pipeline wiring (SURVEY.md §3.1).

scan → (salted repartition) → Arrow extract → exploded tokens → block
assembly.  Physical shape at scale: parquet/Iceberg scan (pruned) →
round-robin-on-salt exchange → mapInArrow (pipelined, no shuffle) →
one groupBy shuffle for assembly — exactly the two-shuffle plan SURVEY.md
§4 calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .assemble import assemble_blocks, explode_tokens
from .corpus import build_web_pages
from .extract import extract_pages
from .scale import decode_partitions


def run_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet → EXTRACT_RESULT frame (one row per url).

    The salt exchange happens BEFORE the first Python stage (inside
    build_web_pages) so generation and decode pipeline together across all
    cores with no shuffle in between; its width is the size-derived
    ``decode_partitions``."""
    pages = build_web_pages(
        spark, sf_dir, partitions=decode_partitions(spark, sf_dir)
    )
    return extract_pages(pages)


def run_block_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: extract every page, assemble confidence-filtered blocks."""
    extracted = run_extraction(spark, sf_dir)
    tokens = explode_tokens(extracted)
    return assemble_blocks(tokens)
