"""Structured-export sinks (SURVEY.md S8-S11, C15, C17, §1.4).

- ``span_records``: char-offset span computation against a flattened
  per-url line, reproducing csv_to_jsonl.py:53-69 faithfully:
  * ``field_from = line.find(value)`` kept only when ``> 0`` — the
    reference drops not-found (-1) AND position-0 matches (quirk);
  * the taxonomy sciname is appended at ``len(line) + 1`` and the line
    becomes ``line + ' ' + sciname`` (:53-57, :131);
  all JVM-side (locate/length/concat — no UDF).
- ``training_jsonl``: the AutoML JSONL shape (:21-25) via ``to_json`` —
  struct field order matches the reference template exactly, including
  end_offset BEFORE start_offset.
- ``tokens_csv`` / ``fulltext_sink`` / ``json_response_sink``: the S8/S10/
  S9 writers re-expressed as DataFrame writes (14-col CSV schema restated
  verbatim from run_gvision_ocr.py:173-174).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .assemble import _ordered_concat
from .zones import SPLIT_X

# annotate_plan's outline width and page box (run_gvision_ocr.py:185-260)
LINE_WIDTH, PAGE_W, PAGE_H = 3, 2000, 100

# the reference's CSV column schema, restated (run_gvision_ocr.py:173-174)
CSV_COLUMNS = [
    "word_text", "block", "page", "word", "word_line", "confidence",
    "vertices_x_0", "vertices_y_0", "vertices_x_1", "vertices_y_1",
    "vertices_x_2", "vertices_y_2", "vertices_x_3", "vertices_y_3",
]


def flatten_lines(blocks: DataFrame) -> DataFrame:
    """Per-url flattened line: block texts joined with ' ' in reading
    order (the csv-row analog the reference computes offsets against)."""
    return blocks.groupBy("url").agg(
        _ordered_concat(["block", "word_line"], "block_text").alias("line")
    )


def span_records(lines: DataFrame, fields: DataFrame) -> DataFrame:
    """fields (FIELD schema) × per-url line → span rows.

    start = 0-based find of verbatim_value; kept only when find > 0
    (instr > 1), the reference's quirk.  Taxonomy rows (verbatim empty)
    are appended instead: start = len(line)+1, content gets ' '+value."""
    joined = fields.join(lines, "url")
    appended = (
        joined.filter(
            (F.col("data_type") == "taxonomy")
            & (F.length(F.coalesce("verbatim_value", F.lit(""))) == 0)
        )
        .select(
            "url",
            F.col("data_type").alias("field"),
            (F.length("line") + 1).cast("long").alias("start"),
            (F.length("line") + 1 + F.length("interpreted_value"))
            .cast("long")
            .alias("end"),
            F.concat(F.col("line"), F.lit(" "), F.col("interpreted_value"))
            .alias("content"),
        )
    )
    found = (
        joined.filter(
            F.length(F.coalesce("verbatim_value", F.lit(""))) > 0
        )
        .withColumn("pos", F.instr(F.col("line"), F.col("verbatim_value")))
        .filter(F.col("pos") > 1)  # reference keeps only find() > 0
        .select(
            "url",
            F.col("data_type").alias("field"),
            (F.col("pos") - 1).cast("long").alias("start"),
            (F.col("pos") - 1 + F.length("verbatim_value"))
            .cast("long")
            .alias("end"),
            F.col("line").alias("content"),
        )
    )
    return found.unionByName(appended)


def training_jsonl(spans: DataFrame) -> DataFrame:
    """AutoML entity-extraction JSONL (csv_to_jsonl.py templates):
    one JSON object per url with all its annotations."""
    ann = F.array_sort(
        F.collect_list(
            F.struct(
                F.struct(
                    F.struct(
                        F.col("end").alias("end_offset"),
                        F.col("start").alias("start_offset"),
                    ).alias("text_segment")
                ).alias("text_extraction"),
                F.col("field").alias("display_name"),
            )
        )
    )
    per_url = spans.groupBy("url").agg(
        ann.alias("annotations"),
        F.max("content").alias("content"),  # appended-sciname variant wins
    )
    return per_url.select(
        "url",
        F.to_json(
            F.struct(
                F.col("annotations"),
                F.struct(F.col("content")).alias("text_snippet"),
            )
        ).alias("jsonl"),
    )


def _pystr_double(col: F.Column) -> F.Column:
    """Render a double the way Python's ``str()`` does for the [0, 1]
    confidence-like CSV value domain: decimals with trailing zeros
    trimmed (``0.85``, ``1.0``, ``0.0005``), switching to Python's
    exponent form strictly below 1e-4 (``5e-05``, ``1.5e-05``) — Python
    repr's actual cutover, NOT Java Double.toString's 1e-3 (``5.0E-4``,
    the r4 advice finding) and not 1e-3 as an earlier docstring implied.
    Java's ``%e`` exponent shape (lowercase e, sign, min two digits)
    matches Python's.  Remaining documented boundary: mantissas needing
    more than 6 fractional digits for round-trip (the engine's
    confidence granularity is 0.01) would be truncated, and magnitudes
    ≥ 1e16 would stay decimal; Python repr would not."""
    dec = F.regexp_replace(F.format_string("%.6f", col), "0+$", "")
    dec = F.when(dec.rlike("\\.$"), F.concat(dec, F.lit("0"))).otherwise(dec)
    # exponent band: %.6e then trim the mantissa like Python ('5.000000e-05'
    # → '5e-05'; Python writes no '.0' on integral mantissas)
    sci = F.format_string("%.6e", col)
    mant = F.regexp_replace(
        F.regexp_extract(sci, "^([^e]+)e", 1), "0+$", ""
    )
    mant = F.regexp_replace(mant, "\\.$", "")
    sci_py = F.concat(mant, F.lit("e"), F.regexp_extract(sci, "e(.+)$", 1))
    in_exp_band = (F.abs(col) < 1e-4) & (F.abs(col) > 0)
    # format_string renders NULL input as the literal 'null' — propagate
    # NULL instead so the sink's quoted-empty coalesce still fires
    return F.when(col.isNull(), F.lit(None)).when(
        in_exp_band, sci_py
    ).otherwise(dec)


def csv_line_col() -> F.Column:
    """The reference's 14-column CSV row under EXACT
    ``csv.QUOTE_NONNUMERIC`` semantics (old/ocr_to_csv.py:33), rendered
    JVM-side from the standard token columns — shared by the tokens_csv
    sink and the ``csv_cells`` gate query."""
    # NULL cells render as quoted-empty, exactly like csv.writer under
    # QUOTE_NONNUMERIC (None → "" → non-numeric → quoted); never let a
    # NULL vanish inside concat_ws and shift the row left
    quoted = F.coalesce(
        F.concat(
            F.lit('"'),
            F.regexp_replace("word_text", '"', '""'),
            F.lit('"'),
        ),
        F.lit('""'),
    )

    def num(col: str) -> F.Column:
        return F.coalesce(F.col(col).cast("string"), F.lit('""'))

    return F.concat_ws(
        ",",
        quoted,
        num("block"),
        num("page"),
        num("word"),
        num("word_line"),
        F.coalesce(_pystr_double(F.col("confidence")), F.lit('""')),
        *[
            F.coalesce(F.element_at("bbox", i + 1), F.lit(0)).cast("string")
            for i in range(8)
        ],
    )


def tokens_csv(tokens: DataFrame, path: str) -> None:
    """S8: word rows in the reference's 14-column CSV schema with EXACT
    ``csv.QUOTE_NONNUMERIC`` semantics (old/ocr_to_csv.py:33): string
    fields and every header cell quoted (embedded quotes doubled),
    numeric fields bare.  Spark's csv writer has no per-type quoting, so
    rows are rendered JVM-side (concat_ws over casts) and written as
    text, with the quoted header prepended once per partition inside the
    Arrow batch iterator.  Float rendering via ``_pystr_double``."""
    line = csv_line_col()
    header = ",".join(f'"{c}"' for c in CSV_COLUMNS)

    def with_header(it):  # type: ignore[no-untyped-def]
        import pandas as pd

        first = True
        for pdf in it:
            if first:
                yield pd.DataFrame({"value": [header]})
                first = False
            yield pdf

    tokens.select(line.alias("value")).mapInPandas(
        with_header, "value string"
    ).write.mode("overwrite").text(path)


def fulltext_sink(extracted: DataFrame, path: str) -> None:
    """S10: per-url assembled text (the primary correctness artifact)."""
    extracted.select("url", "text").write.mode("overwrite").parquet(path)


def json_response_sink(extracted: DataFrame, path: str) -> None:
    """S9: raw structured response per url as JSON lines."""
    extracted.select(
        F.to_json(
            F.struct("url", "payload_kind", "text", "n_tokens", "tokens")
        ).alias("value")
    ).write.mode("overwrite").text(path)


def form_fields(tokens: DataFrame) -> DataFrame:
    """Document-AI form-field (key-value) extraction
    (ML/google_documentai/run_docai.py:130-145): per page, pairs of
    (field_name, field_confidence, value, value_confidence) — the
    reference walks ``page.form_fields`` of the Document-AI response and
    writes ``document|page|field_name|field_conf|value|value_conf`` rows.

    Spark-first form: the layout doc tree already carries the two-column
    ledger geometry (left cell = label, right cell = value — the same
    split the zone template models, zones.py SPLIT_X), so key-value
    detection is a single conditional aggregation per (url, page, line):
    words entirely left of the split are the field name, words entirely
    right of it the value; a pair is emitted when both sides are
    non-empty.  One shuffle, map-side partial agg, no Python.

    Confidences are the per-side mean word confidence, computed from the
    exact integer conf sum (sum_x100 / (100·n)) so the DuckDB oracle
    divides the identical integers."""
    t = tokens.filter(F.col("bbox").isNotNull()).select(
        "url", "page", F.col("block").alias("line"),
        "word", "word_text",
        F.round(F.col("confidence") * 100).cast("long").alias("cx"),
        F.element_at("bbox", 1).alias("wx0"),
        F.element_at("bbox", 5).alias("wx2"),
    )
    # zonal containment semantics (zones.zonal_data): half-open on x —
    # a word straddling the split belongs to neither side
    is_field = F.col("wx2") < SPLIT_X
    is_value = F.col("wx0") >= SPLIT_X

    g = t.groupBy("url", "page", "line").agg(
        _ordered_concat(["word"], where=is_field).alias("field_name"),
        F.sum(F.when(is_field, F.col("cx"))).alias("fs"),
        F.count(F.when(is_field, 1)).alias("fn"),
        _ordered_concat(["word"], where=is_value).alias("value"),
        F.sum(F.when(is_value, F.col("cx"))).alias("vs"),
        F.count(F.when(is_value, 1)).alias("vn"),
    )
    return g.filter((F.col("fn") > 0) & (F.col("vn") > 0)).select(
        "url",
        F.col("page").cast("int").alias("page"),
        "field_name",
        (F.col("fs").cast("double") / (100.0 * F.col("fn"))).alias(
            "field_confidence"
        ),
        "value",
        (F.col("vs").cast("double") / (100.0 * F.col("vn"))).alias(
            "value_confidence"
        ),
    )


def annotate_plan(tokens: DataFrame) -> DataFrame:
    """S12 annotated-image sink, split into its deterministic DRAW PLAN
    (this table) and the rasterize step (PIL absent in this container,
    and ops/codecs.py encodes images but does not draw on them).

    Reference run_gvision_ocr.py:185-260: per block, a confidence color
    class (>0.9 green, >0.8 yellow, >0.7 orange, else red) and the quad
    outset by LINE_WIDTH, clamped to the page box; the sink then draws 4
    lines 0→1→2→3→0 between consecutive corners.  This table IS the
    sink's full information content — every drawn pixel is a pure
    function of one row.

    Color thresholds are evaluated in EXACT integer arithmetic
    (sum(conf_x100) > t·n ⇔ mean(conf) > t/100) so the DuckDB oracle and
    a float mean can never disagree at a threshold boundary."""
    t = tokens.filter(F.col("bbox").isNotNull())
    g = t.groupBy("url", "block").agg(
        F.min(F.element_at("bbox", 1)).alias("bx0"),
        F.min(F.element_at("bbox", 2)).alias("by0"),
        F.max(F.element_at("bbox", 5)).alias("bx1"),
        F.max(F.element_at("bbox", 6)).alias("by1"),
        F.sum(F.round(F.col("confidence") * 100).cast("long")).alias("s"),
        F.count("*").alias("n"),
    )
    color = (
        F.when(F.col("s") > 90 * F.col("n"), "#66ff33")
        .when(F.col("s") > 80 * F.col("n"), "#ffdb4d")
        .when(F.col("s") > 70 * F.col("n"), "#ffa366")
        .otherwise("#ff6666")
    )
    w = LINE_WIDTH
    return g.select(
        "url",
        F.col("block").cast("int").alias("block"),
        color.alias("linecolor"),
        F.greatest(F.col("bx0") - w, F.lit(0)).cast("int").alias("ax0"),
        F.greatest(F.col("by0") - w, F.lit(0)).cast("int").alias("ay0"),
        F.least(F.col("bx1") + w, F.lit(PAGE_W)).cast("int").alias("ax1"),
        F.greatest(F.col("by0") - w, F.lit(0)).cast("int").alias("ay1"),
        F.least(F.col("bx1") + w, F.lit(PAGE_W)).cast("int").alias("ax2"),
        F.least(F.col("by1") + w, F.lit(PAGE_H)).cast("int").alias("ay2"),
        F.greatest(F.col("bx0") - w, F.lit(0)).cast("int").alias("ax3"),
        F.least(F.col("by1") + w, F.lit(PAGE_H)).cast("int").alias("ay3"),
    )
