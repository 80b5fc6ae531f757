"""Token→line→block assembly (SURVEY.md A1/A2/T3/F1) — pure built-in ops.

Re-expresses the reference's ordered ``string_agg`` block assembly:

- ``assemble_blocks`` reproduces block_identification.py:68 exactly,
  *including its load-bearing quirk*: the SQL groups by
  (document_id, block, word_line) but selects ``block`` — producing
  line-grain rows labeled as blocks (SURVEY.md §7.3). We therefore group by
  (url, block, word_line), with the confidence gate ``confidence > 0.70``
  (settings.py.template:23) applied before aggregation.

- ``assemble_reading_order`` reproduces auto_id_compare.py:236-243: full
  reading-order text per (url, block) — inner order
  (page, word_line, word) — gated at ``confidence >= 0.85``.

Determinism: word order inside each group is pinned by ``array_sort`` over
a struct whose leading fields are the sort keys — byte-identical output
run-to-run regardless of partitioning (the property that makes the golden
byte-identity gate possible). Everything here is JVM-side/whole-stage
codegen: exactly one shuffle (the groupBy), partial aggregation map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

INTERPRET_CONFIDENCE = 0.70  # settings.py.template:23
AUTOMATCH_CONFIDENCE = 0.85  # auto_id_compare.py:243


def explode_tokens(extracted: DataFrame) -> DataFrame:
    """EXTRACT_RESULT frame → flat token rows (url + TOKEN columns)."""
    return extracted.select(
        "url", F.explode("tokens").alias("t")
    ).select("url", "t.*")


def _ordered_concat(sort_cols: list[str]) -> F.Column:
    """concat_ws(' ', words ordered by sort_cols) as a single aggregate —
    sort-within-aggregate keeps the op shuffle-once and deterministic."""
    struct_cols = [F.col(c) for c in sort_cols] + [F.col("word_text")]
    arr = F.array_sort(F.collect_list(F.struct(*struct_cols)))
    return F.concat_ws(" ", F.transform(arr, lambda s: s["word_text"]))


def assemble_blocks(
    tokens: DataFrame, min_confidence: float = INTERPRET_CONFIDENCE
) -> DataFrame:
    """Line-grain block assembly (reference block_identification.py:68).

    Returns (url, block, word_line, block_text, block_confidence).
    """
    return (
        tokens.filter(F.col("confidence") > F.lit(min_confidence))
        .groupBy("url", "block", "word_line")
        .agg(
            _ordered_concat(["word"]).alias("block_text"),
            F.avg("confidence").alias("block_confidence"),
        )
    )


def assemble_reading_order(
    tokens: DataFrame, min_confidence: float = AUTOMATCH_CONFIDENCE
) -> DataFrame:
    """Full reading-order block text (auto_id_compare.py:204-248).

    Returns (url, block, block_text, block_confidence); inner order
    (page, word_line, word) per :236-238.
    """
    return (
        tokens.filter(F.col("confidence") >= F.lit(min_confidence))
        .groupBy("url", "block")
        .agg(
            _ordered_concat(["page", "word_line", "word"]).alias("block_text"),
            F.avg("confidence").alias("block_confidence"),
        )
    )
