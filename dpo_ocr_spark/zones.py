"""Zonal extraction: bbox-containment join + pivot (SURVEY.md J8).

The reference defines rectangular template zones (``ocr_zones``,
database/database.sql:200-225), assigns words whose quad falls inside a
zone rectangle, concatenates per zone with the zone's word_separator into
``ocr_zonal_data`` (database/database.sql:229-251), and the QA UI pivots
cells back by (row_no, field_name) (ui/app.R:508-543).

Spark shape: zones are a tiny broadcast dim → the containment join is a
broadcast nested loop (fine: |zones| is O(10)); per-zone assembly is the
same deterministic sort-within-aggregate as block assembly; the pivot is
``groupBy(row_no).pivot(field_name)``.

The synthetic zone template splits each layout line into a left and a
right column at x = SPLIT_X, one row per line (row_no = word_line) — the
two-column ledger-page shape the reference's zones model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .assemble import _ordered_concat

SPLIT_X = 320
N_ROWS = 3
Y_STEP = 24  # corpus.render_layout: y = 24 * block
ROW_H = 18

FIELD_NAMES = ["left_col", "right_col"]


def zone_template(spark: SparkSession) -> DataFrame:
    """Broadcast zone dim: (zone_id, field_name, field_order,
    word_separator, row_no, x0, x1, y0, y1)."""
    rows = []
    for r in range(N_ROWS):
        y0, y1 = Y_STEP * r, Y_STEP * r + ROW_H
        rows.append((f"z{r}L", "left_col", 1, " ", r, 0, SPLIT_X, y0, y1))
        rows.append((f"z{r}R", "right_col", 2, " ", r, SPLIT_X, 10**6, y0, y1))
    return spark.createDataFrame(
        rows,
        "zone_id string, field_name string, field_order int,"
        "word_separator string, row_no int, x0 int, x1 int, y0 int, y1 int",
    )


def zonal_data(tokens: DataFrame, zones: DataFrame) -> DataFrame:
    """Word → zone containment join + ordered per-zone assembly.

    A word belongs to a zone when its quad's envelope lies inside the zone
    rectangle: x0 >= z.x0 AND x2 < z.x1 AND y0 >= z.y0 AND y2 <= z.y1
    (half-open on x so the split line is unambiguous)."""
    t = tokens.filter(F.col("bbox").isNotNull()).select(
        "url", "word", "word_text",
        F.element_at("bbox", 1).alias("wx0"),
        F.element_at("bbox", 2).alias("wy0"),
        F.element_at("bbox", 5).alias("wx2"),
        F.element_at("bbox", 6).alias("wy2"),
    )
    joined = t.join(
        F.broadcast(zones),
        (F.col("wx0") >= F.col("x0")) & (F.col("wx2") < F.col("x1"))
        & (F.col("wy0") >= F.col("y0")) & (F.col("wy2") <= F.col("y1")),
    )
    # the separator comes from the zone row (a grouping key, so constant
    # within the group) — reference joins with ocr_zones.word_separator,
    # database/database.sql:229-251, NOT a hardcoded space
    return joined.groupBy(
        "url", "zone_id", "field_name", "row_no", "word_separator"
    ).agg(
        _ordered_concat(["word"], sep=F.col("word_separator")).alias(
            "cell_text"
        ),
        F.count("*").alias("n_words"),
    )


def zonal_pivot(cells: DataFrame) -> DataFrame:
    """ui/app.R:508-543 — one row per (url, row_no), one column per
    field_name."""
    return (
        cells.groupBy("url", "row_no")
        .pivot("field_name", FIELD_NAMES)
        .agg(F.first("cell_text"))
    )
