"""Token→line→block assembly (SURVEY.md A1/A2/T3/F1) — pure built-in ops.

This module is the only place block records are built; the decoders emit
tokens only.  Re-expresses the reference's ordered ``string_agg`` block
assembly:

- ``assemble_blocks`` reproduces block_identification.py:68 exactly,
  *including its load-bearing quirk*: the SQL groups by
  (document_id, block, word_line) but selects ``block`` — producing
  line-grain rows labeled as blocks (SURVEY.md §7.3). We therefore group by
  (url, warc_ts, block, word_line), with the confidence gate
  ``confidence > 0.70`` (settings.py.template:23) applied before
  aggregation.

- ``assemble_reading_order`` reproduces auto_id_compare.py:236-243: full
  reading-order text per (url, warc_ts, block) — inner order
  (page, word_line, word) — gated at ``confidence >= 0.85``.

Rows are keyed per capture: the reference's document is a (url, warc_ts)
pair here, so two captures of one url (a re-crawl) never merge.

Determinism: word order inside each group is pinned by ``array_sort`` over
a struct whose leading fields are the sort keys, so ``block_text`` is
byte-identical under any partitioning (the property that makes the golden
byte-identity gate possible).  ``block_confidence`` is an ``avg`` over
doubles whose last bits can depend on summation order; the gate queries
therefore check it as the rounded sum ``block_confidence * n_words * 100``.
Everything here is JVM-side/whole-stage codegen: exactly one shuffle (the
groupBy), partial aggregation map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

INTERPRET_CONFIDENCE = 0.70  # settings.py.template:23
AUTOMATCH_CONFIDENCE = 0.85  # auto_id_compare.py:243


def explode_tokens(extracted: DataFrame) -> DataFrame:
    """EXTRACT_RESULT frame → flat token rows (url, warc_ts + TOKEN
    columns)."""
    return extracted.select(
        "url", "warc_ts", F.explode("tokens").alias("t")
    ).select("url", "warc_ts", "t.*")


def _ordered_concat(
    sort_cols: list[str],
    value: str = "word_text",
    sep: str | F.Column = " ",
    where: F.Column | None = None,
) -> F.Column:
    """``value`` ordered by sort_cols and joined with ``sep`` (a string, or
    a grouping-key column) as a single aggregate — sort-within-aggregate
    keeps the op shuffle-once and deterministic.  With ``where``, only the
    group's rows where it holds contribute (a conditional aggregation)."""
    item = F.struct(*sort_cols, value)
    arr = F.array_sort(
        F.collect_list(item if where is None else F.when(where, item))
    )
    values = F.transform(arr, lambda s: s[value])
    return F.call_function("concat_ws", F.lit(sep), values)


def assemble_blocks(tokens: DataFrame) -> DataFrame:
    """Line-grain block assembly (reference block_identification.py:68).

    Returns (url, warc_ts, block, word_line, block_text,
    block_confidence, n_words).
    """
    return (
        tokens.filter(F.col("confidence") > F.lit(INTERPRET_CONFIDENCE))
        .groupBy("url", "warc_ts", "block", "word_line")
        .agg(
            _ordered_concat(["word"]).alias("block_text"),
            F.avg("confidence").alias("block_confidence"),
            F.count("*").alias("n_words"),
        )
    )


def assemble_reading_order(tokens: DataFrame) -> DataFrame:
    """Full reading-order block text (auto_id_compare.py:204-248).

    Returns (url, warc_ts, block, block_text, block_confidence,
    n_words); inner order (page, word_line, word) per :236-238.
    """
    return (
        tokens.filter(F.col("confidence") >= F.lit(AUTOMATCH_CONFIDENCE))
        .groupBy("url", "warc_ts", "block")
        .agg(
            _ordered_concat(["page", "word_line", "word"]).alias("block_text"),
            F.avg("confidence").alias("block_confidence"),
            F.count("*").alias("n_words"),
        )
    )
