"""§3.3 auto-match cascade pins (reference auto_id_compare.py:276-311,
519-555; thresholds settings.py.template:50-56).

The cascade has no DuckDB oracle (indel DP), so its thresholds, tie-breaks
and quirks are pinned here against hand-checkable corpora.
"""

from __future__ import annotations

from dpo_ocr_spark.interpret.auto_match import (
    GEO_MIN,
    INSERT_MIN,
    TOKEN_SET_MIN,
    candidates_of,
    cascade_rows,
)
from dpo_ocr_spark.interpret.fuzzy import partial_ratio, ratio, token_set_ratio
from sf_fixture import SD


def test_thresholds_match_settings_template():
    assert (INSERT_MIN, TOKEN_SET_MIN, GEO_MIN) == (180, 96, 96)


def test_candidates_never_include_last_word():
    """auto_id_compare.py:283-285: j stops at n-1 and the slice is
    exclusive, so the final word appears in NO candidate."""
    cands = [c for c, _ in candidates_of("alpha bravo charlie delta")]
    assert cands == [
        "alpha",
        "alpha bravo",
        "alpha bravo charlie",
        "bravo",
        "bravo charlie",
        "charlie",
    ]
    assert all("delta" not in c for c in cands)
    # 1-word and 2-short-word blocks yield nothing
    assert candidates_of("Germany") == []
    assert candidates_of("in it") == []  # 'in' has len 2 ≤ 3


def test_candidate_string_len_respacing():
    """string_len is len(candidate) after whitespace collapse and
    '.' → '. ' respacing (:286-288): 'Coll.' counts 5, not 6."""
    cands = dict(candidates_of("Coll. Somebody det."))
    assert cands["Coll."] == 5
    # '.' → '. ' fires even when a space already follows, leaving a double
    # space that counts toward string_len (reference respacing, verbatim)
    assert cands["Coll. Somebody"] == len("Coll.  Somebody")


def test_stage1_strictly_greater_than_180():
    """score must EXCEED insert_min; an exact dictionary hit scores 200
    and inserts the CANDIDATE substring."""
    rows = cascade_rows(
        "Jane Smith det.", [("collector", ["Jane Smith"])], []
    )
    assert ("collector", "Jane Smith", "score") in rows
    # craft a pair scoring exactly ≤ 180: 'abcd' vs 'abcdabcd' →
    # partial 100 + ratio 67 = 167 < 180, and token_set 67 < 96 → nothing
    s = partial_ratio("abcd", "abcdabcd") + ratio("abcd", "abcdabcd")
    assert s <= 180
    rows = cascade_rows("abcd filler!", [("collector", ["abcdabcd"])], [])
    assert rows == []


def test_stage2_uses_globally_shortest_row_not_best_score3():
    """Reference quirk (:304-309): res_top (max score3 rows) is dead code —
    the nsmallest(1, 'string_len') row over ALL rows gates the insert.
    Here the SHORT candidate has a perfect token_set vs the dict, while a
    longer candidate would too; the short one fires because it is the
    global min string_len.  Conversely, when the shortest row's score3 is
    low, nothing fires even though a longer row clears 96."""
    # positive: best stage-1 score stays ≤ 180, and the globally-shortest
    # candidate 'bravo' is a token subset of the dict value → s3 = 100
    s = partial_ratio("bravo", "bravo zulu") + ratio("bravo", "bravo zulu")
    assert s <= 180
    assert token_set_ratio("bravo", "bravo zulu") == 100
    rows = cascade_rows(
        "bravo alpha filler end", [("collector", ["bravo zulu"])], []
    )
    assert rows == [("collector", "bravo", "token_set")]
    # negative: candidate 'bravo zulu' has s3 = 100, but the globally
    # shortest row is 'xxxx' (len 4, ties with 'zulu' → first occurrence
    # wins, s3 = 0) → quirk: nothing inserted
    assert token_set_ratio("bravo zulu", "bravo zulu tango") == 100
    rows = cascade_rows(
        "xxxx bravo zulu end", [("collector", ["bravo zulu tango"])], []
    )
    assert rows == []


def test_geo_inserts_gazetteer_name_not_candidate():
    rows = cascade_rows("in GERMANY near camp", [], ["GERMANY"])
    assert rows == [("country", "GERMANY", "geo")]
    # strict >96: a 1-char-off candidate vs a short name stays below
    assert ratio("german", "germany") <= 96
    assert cascade_rows("in GERMAN near camp", [], ["GERMANY"]) == []


def test_prune_bound_survives_half_even_rounding():
    """ratio() = round(200*M/T) rounds half-even, so a pair whose RAW
    length bound is exactly best-0.5 can still round up to TIE the
    running best and win on string_len.  The prunes must therefore
    compare round(bound), not the raw float (regression: r5 review).

    Crafted boundary: len 199 vs len 201 with 2 edits → raw 99.5,
    ratio = round(99.5) = 100."""
    w = "w" * 199
    assert ratio(w, w + "xy") == 100  # the half that rounds up
    # geo pass: 'abcde' matches gazetteer 'abcde' first (score2=100,
    # slen=5); the 199-char candidate's raw bound vs the 201-char name
    # is 99.5 — a raw-float prune would skip it, but it ties at 100
    # with larger slen and must win (gbest stores the gazetteer NAME)
    rows = cascade_rows(f"abcde {w} end", [], ["abcde", w + "xy"])
    assert rows == [("country", w + "xy", "geo")]
    # insert pass, same shape: best=(200,5) via the exact 'abcde' hit;
    # the 199-char candidate reaches partial 100 + ratio 100 = 200 and
    # ties with larger slen → the CANDIDATE text must be emitted
    rows = cascade_rows(
        f"abcde {w} end", [("collector", ["abcde", w + "xy"])], []
    )
    assert rows == [("collector", w, "score")]


def test_tie_break_first_in_pinned_order():
    """nlargest(keep='first') over candidate-major order: two dict values
    scoring identically → the first (sorted) value's score row wins, and
    the first candidate among equals is inserted."""
    rows = cascade_rows(
        "Jane Smith det.",
        [("collector", ["Jane Smith", "Jane Smith "])],  # both ratio≈100
        [],
    )
    assert rows[0] == ("collector", "Jane Smith", "score")


def test_auto_match_end_to_end(spark):
    """Registered query at sf0.001: schema, determinism, geo coverage
    (every test-split label has an 'in <nation> near camp' block → a
    country row), and last-writer-wins dedup per (url, size, field)."""
    from dpo_ocr_spark.interpret.auto_match import AUTO_SIZES, auto_match

    df = auto_match(spark, SD).cache()
    rows = df.collect()
    assert df.columns == ["url", "reference_size", "field", "value", "stage"]
    keys = [(r.url, r.reference_size, r.field) for r in rows]
    assert len(keys) == len(set(keys)), "upsert key not unique"
    got_sizes = {r.reference_size for r in rows}
    assert got_sizes <= set(AUTO_SIZES)
    country = [r for r in rows if r.field == "country"]
    assert country and all(r.stage == "geo" for r in country)
    # deterministic across runs
    again = sorted(map(tuple, auto_match(spark, SD).collect()))
    assert again == sorted(map(tuple, rows))
