"""Eval harness + structured export: quirk goldens."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from sf_fixture import SD


def _auto_fields(spark):
    from dpo_ocr_spark.queries_eval import _label_auto_fields

    return _label_auto_fields(spark, SD)


def test_accuracy_shows_december_gap(spark):
    """The X11 roman quirk surfaces as <100% verbatim_date accuracy while
    elevation/collector stay at 100% (the metric reproduces the
    reference's behavior gap, not an idealized pipeline)."""
    from dpo_ocr_spark.eval.harness import accuracy

    out = accuracy(spark, SD, _auto_fields(spark), fuzzy=False).collect()
    by_field = {}
    for r in out:
        by_field.setdefault(r.field, []).append(r.pct_matched)
    assert all(p == 100.0 for p in by_field["elevation"])
    assert all(p == 100.0 for p in by_field["collector"])
    assert any(p < 100.0 for p in by_field["verbatim_date"])


def test_span_position_zero_quirk(spark):
    """csv_to_jsonl.py keeps only find() > 0: a verbatim at offset 0 is
    dropped (reference quirk)."""
    from dpo_ocr_spark.export import span_records

    lines = spark.createDataFrame(
        [("u1", "hello world hello")], ["url", "line"]
    )
    fields = spark.createDataFrame(
        [
            ("u1", 0, "a", "f", "hello", "hello", "", 0.0),   # offset 0 → drop
            ("u1", 0, "b", "f", "world", "world", "", 0.0),   # offset 6 → keep
            ("u1", 0, "c", "f", "zzz", "zzz", "", 0.0),       # absent → drop
        ],
        "url string, block_id int, data_type string, data_format string,"
        "interpreted_value string, verbatim_value string,"
        "data_source string, match_score double",
    )
    out = span_records(lines, fields).collect()
    assert [(r.field, r.start, r.end) for r in out] == [("b", 6, 11)]


def test_span_appended_taxonomy(spark):
    """Taxonomy rows (empty verbatim) are appended at len(line)+1 and the
    content grows by ' ' + sciname (csv_to_jsonl.py:53-57, :131)."""
    from dpo_ocr_spark.export import span_records

    lines = spark.createDataFrame([("u1", "some line")], ["url", "line"])
    fields = spark.createDataFrame(
        [("u1", 0, "taxonomy", "taxonomy:species", "Apis mellifera", "", "", 0.0)],
        "url string, block_id int, data_type string, data_format string,"
        "interpreted_value string, verbatim_value string,"
        "data_source string, match_score double",
    )
    r = span_records(lines, fields).collect()[0]
    assert (r.start, r.end) == (10, 24)
    assert r.content == "some line Apis mellifera"


def test_training_jsonl_template_shape(spark):
    """JSON shape matches the reference template: end_offset BEFORE
    start_offset, annotations before text_snippet."""
    from dpo_ocr_spark.export import span_records, training_jsonl

    lines = spark.createDataFrame([("u1", "x hello")], ["url", "line"])
    fields = spark.createDataFrame(
        [("u1", 0, "f1", "f", "hello", "hello", "", 0.0)],
        "url string, block_id int, data_type string, data_format string,"
        "interpreted_value string, verbatim_value string,"
        "data_source string, match_score double",
    )
    j = training_jsonl(span_records(lines, fields)).collect()[0].jsonl
    obj = json.loads(j)
    assert obj == {
        "annotations": [
            {
                "text_extraction": {
                    "text_segment": {"end_offset": 7, "start_offset": 2}
                },
                "display_name": "f1",
            }
        ],
        "text_snippet": {"content": "x hello"},
    }
    # raw key order matches the reference template
    assert j.index("annotations") < j.index("text_snippet")
    assert j.index("end_offset") < j.index("start_offset")


def test_flatten_lines_reading_order(spark):
    from dpo_ocr_spark.export import flatten_lines

    blocks = spark.createDataFrame(
        [("u1", 1, 1, "second"), ("u1", 0, 0, "first"), ("u1", 2, 2, "third")],
        ["url", "block", "word_line", "block_text"],
    )
    assert flatten_lines(blocks).collect()[0].line == "first second third"


def test_sinks_roundtrip(tmp_path, spark):
    from dpo_ocr_spark.export import fulltext_sink, json_response_sink, tokens_csv
    from dpo_ocr_spark.assemble import explode_tokens
    from dpo_ocr_spark.pipeline import run_extraction

    extracted = run_extraction(spark, SD).limit(20).cache()
    p1 = str(tmp_path / "fulltext")
    fulltext_sink(extracted, p1)
    assert spark.read.parquet(p1).count() == 20
    p2 = str(tmp_path / "resp")
    json_response_sink(extracted, p2)
    line = spark.read.text(p2).first().value
    assert json.loads(line)["url"].startswith("https://")
    p3 = str(tmp_path / "csv")
    tokens_csv(explode_tokens(extracted), p3)
    assert spark.read.option("header", True).csv(p3).columns[0] == "word_text"


def test_annotate_plan_colors_and_clamps(spark):
    """S12 draw plan: exact-threshold colors (mean strictly > t) and the
    outset quad clamped to the page box (run_gvision_ocr.py:185-260)."""
    from dpo_ocr_spark.export import annotate_plan

    rows = [
        # block 0: two words mean 0.90 exactly → NOT green (strict >)
        ("u", 0, 0.92, [0, 0, 80, 0, 80, 18, 0, 18]),
        ("u", 0, 0.88, [88, 0, 120, 0, 120, 18, 88, 18]),
        # block 1: mean 0.95 → green; corner clamp at x=0/y=24
        ("u", 1, 0.95, [0, 24, 40, 24, 40, 42, 0, 42]),
        # block 2: mean 0.60 → red
        ("u", 2, 0.60, [0, 48, 40, 48, 40, 66, 0, 66]),
    ]
    tokens = spark.createDataFrame(
        rows, "url string, block int, confidence double, bbox array<int>"
    )
    got = {r.block: r for r in annotate_plan(tokens).collect()}
    assert got[0].linecolor == "#ffdb4d"  # 0.90 is NOT > 0.9
    assert got[1].linecolor == "#66ff33"
    assert got[2].linecolor == "#ff6666"
    b1 = got[1]
    assert (b1.ax0, b1.ay0) == (0, 21)   # x clamped at 0, y outset by 3
    assert (b1.ax1, b1.ay1) == (43, 21)
    assert (b1.ax2, b1.ay2) == (43, 45)
    assert (b1.ax3, b1.ay3) == (0, 45)
    # page-box clamp: block 2 bottom edge 66+3=69 < 100 stays; top block
    # y0-3 clamps at 0 in block 0
    assert got[0].ay0 == 0


def test_auto_geo_passes_and_accuracy(spark):
    """ocr_transcription_ento_auto_geo analog (auto_id_compare.py:369,
    601-720 spec; ui/app_ento.R:626-671 reads it):

    - the geo state/county passes fill state_territory / country via the
      gadm hierarchy → exact accuracy 100% on the synthetic corpus;
    - the county pass inserts the matched CANDIDATE TEXT (reference
      ``res.iloc[0]['text']`` quirk) → district_county exact accuracy 0%
      (golden holds the bare county name);
    - last-writer-wins order is (pass, block): the county pass's
      hierarchy state overwrites the state pass's candidate text.
    """
    from dpo_ocr_spark.interpret.auto_match import auto_geo
    from dpo_ocr_spark.eval.harness import accuracy_over_auto
    from dpo_ocr_spark.interpret.auto_match import AUTO_SIZES

    geo = auto_geo(spark, SD).cache()
    rows = geo.collect()
    assert geo.columns == ["url", "reference_size", "field", "value", "stage"]
    keys = [(r.url, r.reference_size, r.field) for r in rows]
    assert len(keys) == len(set(keys)), "upsert key not unique"
    stages = {r.field: {x.stage for x in rows if x.field == r.field} for r in rows}
    # county pass (pass 3) wins state_territory over the state pass
    assert stages["state_territory"] == {"geo_county"}
    assert stages["district_county"] == {"geo_county"}
    acc = {
        (r.field, r.reference_size): r
        for r in accuracy_over_auto(spark, SD, geo, AUTO_SIZES).collect()
    }
    for (field, size), r in acc.items():
        # the geo hierarchy fills these for every test url → exact 100%
        if field in ("country", "state_territory"):
            assert r.pct_matched == 100.0, (field, size)
        # candidate-text insert quirk → never equals the bare county
        if field == "district_county":
            assert r.pct_matched == 0.0, (field, size)
        # dictionary-cascade fields depend on ref-split coverage: partial
        # by design (a test value matches only when some ref url shares
        # its (county, nation) / collector)
        if field == "verbatim_locality":
            assert 0.0 < r.pct_matched < 100.0, (field, size)
    # determinism
    again = sorted(map(tuple, auto_geo(spark, SD).collect()))
    assert again == sorted(map(tuple, rows))


def test_form_fields_pairing_and_confidences(spark):
    """Document-AI form-field pairs (run_docai.py:130-145): left cell =
    field name, right cell = value; a word straddling the split belongs
    to neither side; lines missing either side emit no pair; confidences
    are exact per-side means."""
    from dpo_ocr_spark.export import form_fields

    def tok(line, x0, x1, text, conf):
        return ("u", 1, line, x0, text, conf, [x0, 0, x1, 0, x1, 18, x0, 18])

    rows = [
        tok(0, 0, 40, "Field", 0.90),
        tok(0, 48, 100, "Name", 0.80),
        tok(0, 400, 460, "The", 1.00),
        tok(0, 468, 520, "Value", 0.50),
        # line 1: word straddles the split → neither side → no value side
        tok(1, 0, 40, "Only", 1.00),
        tok(1, 300, 340, "Straddle", 1.00),
        # line 2: right side only → no pair
        tok(2, 400, 440, "Orphan", 1.00),
    ]
    tokens = spark.createDataFrame(
        rows,
        "url string, page int, block int, word int, word_text string,"
        "confidence double, bbox array<int>",
    )
    got = form_fields(tokens).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.url, r.page) == ("u", 1)
    assert r.field_name == "Field Name" and r.value == "The Value"
    assert r.field_confidence == (90 + 80) / 200.0
    assert r.value_confidence == (100 + 50) / 200.0


def test_tokens_csv_quote_nonnumeric_exact(tmp_path, spark):
    """S8 writes byte-exact csv.QUOTE_NONNUMERIC rows (the reference's
    old/ocr_to_csv.py:33 writer): strings and header cells quoted with
    embedded quotes doubled, numerics bare."""
    import csv
    import glob
    import io

    from dpo_ocr_spark.export import CSV_COLUMNS, tokens_csv

    rows = [
        ("plain", 1, 1, 0, 2, 0.95, [1, 2, 3, 4, 5, 6, 7, 8]),
        ('say "hi", ok', 2, 1, 1, 3, 1.0, None),
        # NULL cells must render as quoted-empty like csv's None → ""
        (None, 3, 1, 2, None, None, [9, 9, 9, 9, 9, 9, 9, 9]),
        # Python str() exponent band (< 1e-4): '5e-05' / '1.5e-05', while
        # 0.0005 stays decimal — the r5 review's [1e-6, 1e-4) boundary
        ("tiny", 4, 1, 3, 4, 5e-05, None),
        ("tinier", 5, 1, 4, 5, 1.5e-05, None),
        ("milli", 6, 1, 5, 6, 0.0005, None),
    ]
    tokens = spark.createDataFrame(
        rows,
        "word_text string, block int, page int, word int, word_line int,"
        "confidence double, bbox array<int>",
    ).coalesce(1)
    p = str(tmp_path / "csv")
    tokens_csv(tokens, p)
    got = open(sorted(glob.glob(p + "/part-*"))[0]).read().splitlines()

    buf = io.StringIO()
    wr = csv.writer(buf, quoting=csv.QUOTE_NONNUMERIC)
    wr.writerow(CSV_COLUMNS)
    for wt, blk, pg, wd, wl, conf, bbox in rows:
        wr.writerow([wt, blk, pg, wd, wl, conf] + (bbox or [0] * 8))
    want = buf.getvalue().splitlines()
    assert got == want
