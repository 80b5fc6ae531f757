"""Interpretation cascade + fuzzy kernels: reference-quirk goldens.

Every quirk of block_identification.py is pinned by an explicit test so a
"fix" would fail loudly (SURVEY.md §7.3: reproduce, don't repair).
"""

from __future__ import annotations

import os

import pytest

from dpo_ocr_spark.interpret.dates import interpret_block
from dpo_ocr_spark.interpret.dims import COLLECTOR_STRINGS
from dpo_ocr_spark.interpret.fuzzy import (
    _sorted_tokens,
    partial_ratio,
    ratio,
    token_set_ratio,
    word_similarity,
)
from dpo_ocr_spark.interpret.mini_dateparser import parse
from sf_fixture import SD


# --- date cascade ----------------------------------------------------------

def test_bare_year():
    assert interpret_block("1943") == (
        "verbatim_date", "Date (year)", "1943", "1943")


def test_year_range_excludes_current_year():
    # range(1800, cur_year) — cur_year itself rejected (:98)
    assert interpret_block("2026") is None
    assert interpret_block("2025") is not None
    assert interpret_block("1799") is None
    assert interpret_block("1800") is not None


def test_elevation_list_repr_quirk():
    # interpreted_value is the str() of re.findall's list (:120)
    assert interpret_block("Alt. 1500'") == (
        "elevation", "elevation", "['1500']'", "1500'")
    assert interpret_block("elev 800m") == (
        "elevation", "elevation", "['800']m", "800m")


def test_short_block_fallthrough_quirk():
    # a short block with 4 digits NOT in year range falls through (:97-103
    # has no else) and reaches the elevation rule
    assert interpret_block("1,500'") == (
        "elevation", "elevation", "['1', '500']'", "1,500'")


def test_no_guard():
    assert interpret_block("No. 1234 Jun 1943") is None


def test_collector_string_guard():
    for coll in COLLECTOR_STRINGS:
        assert interpret_block(coll) is None


def test_direct_date():
    assert interpret_block("12 Jun 1943") == (
        "verbatim_date", "Date (Y-M-D)", "1943-06-12", "12 Jun 1943")


def test_roman_month():
    assert interpret_block("5-VI-1943") == (
        "verbatim_date", "Date (Y-M-D)", "1943-06-05", "5-Jun-1943")


def test_roman_december_x11_quirk():
    # map has "X11" (digits), no "XII" (:143) → December roman dates fail
    assert interpret_block("5-XII-1943") is None


@pytest.mark.parametrize(
    "roman,month",
    [("I", 1), ("II", 2), ("III", 3), ("IV", 4), ("V", 5), ("VI", 6),
     ("VII", 7), ("VIII", 8), ("IX", 9), ("X", 10), ("XI", 11)],
)
def test_roman_all_months(roman, month):
    got = interpret_block(f"7-{roman}-1920")
    assert got is not None and got[2] == f"1920-{month:02d}-07"


def test_ambiguous_numeric_last_format_wins():
    # stage-1 format loop has no break (:136-141) → MDY (last) wins
    assert interpret_block("12-06-1943")[2] == "1943-12-06"


def test_century_fix_minus_1000_quirk():
    # 2-digit year → 2043; 2043 > cur_year → −1000 (:171), NOT −100
    got = interpret_block("Jun '43")
    assert got[2] == "1043-06-01"


def test_month_year_prefers_day_one():
    assert interpret_block("V-1922")[2] == "1922-05-01"


# --- mini dateparser --------------------------------------------------------

def test_parse_orders():
    assert parse("12-06-1943", "DMY") == (1943, 6, 12)
    assert parse("1943-06-12", "YMD") == (1943, 6, 12)
    assert parse("12-06-1943", "MDY") == (1943, 12, 6)
    assert parse("31-02-1943", "DMY") is None  # invalid day
    assert parse("hello", "DMY") is None
    assert parse("Jun 1943", "DMY") == (1943, 6, 1)


# --- fuzzy kernels (published fuzzywuzzy / pg_trgm values) -------------------

def test_fuzz_family_known_values():
    assert ratio("this is a test", "this is a test!") == 97
    assert partial_ratio("this is a test", "this is a test!") == 100
    # token_sort_ratio, the way the matchers compute it
    assert ratio(
        _sorted_tokens("fuzzy wuzzy was a bear"),
        _sorted_tokens("wuzzy fuzzy was a bear")) == 100
    assert token_set_ratio(
        "fuzzy was a bear", "fuzzy fuzzy was a bear") == 100
    assert ratio("", "") == 100
    assert ratio("abc", "") == 0


def test_pg_trgm_known_values():
    # postgres docs: word_similarity('word', 'two words') = 0.8
    assert abs(word_similarity("word", "two words") - 0.8) < 1e-9
    assert word_similarity("dog", "the dog barked") == 1.0


# --- Spark pipeline ----------------------------------------------------------

def test_interpret_all_on_labels(spark):
    from dpo_ocr_spark.interpret.dims import (
        gazetteer,
        gazetteer_hierarchy,
        taxonomy,
    )
    from dpo_ocr_spark.interpret.labels import label_blocks_with_dims
    from dpo_ocr_spark.interpret.match import interpret_all

    blocks = label_blocks_with_dims(spark, SD)
    hier = gazetteer_hierarchy(spark, SD)
    fields = interpret_all(
        spark, blocks, gazetteer(spark, SD), taxonomy(spark), hierarchy=hier
    ).collect()
    urls = {r.url for r in fields}
    assert urls, "no label urls produced fields"
    u = sorted(urls)[0]
    # locality block hit the gazetteer county level exactly: the matched
    # NAME (county + nation state), not the raw block text with its
    # precise tail
    loc = [r for r in fields if r.url == u and r.data_type == "verbatim_locality"]
    assert loc and loc[0].data_format == "locality:county"
    assert " Co., " in loc[0].interpreted_value
    assert not loc[0].interpreted_value.endswith(
        ("camp", "ridge", "valley", "spring", "summit"))
    # the admin-hierarchy expansion emitted the locality family
    by_type = {
        r.data_type: r for r in fields if r.url == u and r.block_id == 4
    }
    assert {"country", "state_territory", "precise_locality"} <= set(by_type)
    assert by_type["country"].interpreted_value in (
        "Africa", "America", "Asia", "Europe", "Middle East")
    assert by_type["precise_locality"].interpreted_value in (
        "camp", "ridge", "valley", "spring", "summit")
    # taxonomy block matched a species (sortorder-1 level)
    tax = [r for r in fields if r.url == u and r.data_type == "taxonomy"]
    assert tax and tax[0].data_format == "taxonomy:species"
    # determinism across runs
    again = interpret_all(
        spark, blocks, gazetteer(spark, SD), taxonomy(spark), hierarchy=hier
    ).collect()
    assert sorted(map(tuple, fields)) == sorted(map(tuple, again))


def test_interpret_full_golden_sf0_01(spark):
    """End-to-end composition pin: the full interpret pipeline output at
    sf0.01 must match the checked-in golden parquet row-for-row.  Catches
    stage-composition regressions that per-stage oracles can't (the
    fuzzywuzzy DP stage has no DuckDB twin)."""
    import pandas as pd

    import __spark_entry__ as E

    df = E.queries()["interpret_full"](spark, "/root/testdata/sf0.01")
    got = (
        df.toPandas()
        .sort_values(list(df.columns))
        .reset_index(drop=True)
    )
    want = pd.read_parquet(
        os.path.join(os.path.dirname(__file__), "fixtures", "interpret_full_sf0_01.parquet")
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


_MATRIX = [
    # (text, {order: expected}) — expected shared across orders unless split
    ("Sept. 3rd, 1923", {"DMY": (1923, 9, 3), "YMD": (1923, 9, 3), "MDY": (1923, 9, 3)}),
    ("September 1923", {"DMY": (1923, 9, 1), "YMD": (1923, 9, 1), "MDY": (1923, 9, 1)}),
    ("3 September 1923", {"DMY": (1923, 9, 3), "YMD": (1923, 9, 3), "MDY": (1923, 9, 3)}),
    ("1923 Sep 21", {"DMY": (1923, 9, 21), "YMD": (1923, 9, 21), "MDY": (1923, 9, 21)}),
    ("21st May 43", {"DMY": (2043, 5, 21), "YMD": (2043, 5, 21), "MDY": (2043, 5, 21)}),
    # numeric forms obey DATE_ORDER; impossible assignments → None
    ("03/05/1923", {"DMY": (1923, 5, 3), "MDY": (1923, 3, 5), "YMD": None}),
    ("1923-05-03", {"YMD": (1923, 5, 3), "DMY": None, "MDY": None}),
    ("05/1923", {"DMY": (1923, 5, 1), "YMD": (1923, 5, 1), "MDY": (1923, 5, 1)}),
    # locale month names (accent and accent-folded)
    ("décembre 1923", {"DMY": (1923, 12, 1)}),
    ("decembre 1923", {"DMY": (1923, 12, 1)}),
    ("Dezember 2, 1950", {"DMY": (1950, 12, 2)}),
    ("enero 2, 1950", {"DMY": (1950, 1, 2)}),
    ("2 maggio 1950", {"DMY": (1950, 5, 2)}),
    ("15 mars 1887", {"DMY": (1887, 3, 15)}),
    ("outubro 1901", {"DMY": (1901, 10, 1)}),
    # REQUIRE_PARTS=['month','year'] refusals
    ("21st May", {"DMY": None}),
    ("1923", {"DMY": None}),
    ("hello 1923", {"DMY": None}),
    ("May June 1923", {"DMY": None}),
    # day validity
    ("31 Feb 1923", {"DMY": None}),
    ("30th April 1923", {"DMY": (1923, 4, 30)}),
    # ordinal tokens are DAYS, never months/years — numeric branches too
    ("3rd 2020", {"DMY": None, "YMD": None, "MDY": None}),
    ("1 2 3rd", {"DMY": None, "YMD": (2001, 2, 3)}),
    ("3rd 6 2020", {"DMY": (2020, 6, 3), "MDY": None}),
    ("2020 6 3rd", {"YMD": (2020, 6, 3), "DMY": None}),
    # two explicit day ordinals leave no year slot -> refuse
    ("3rd 4th May", {"DMY": None, "YMD": None, "MDY": None}),
    ("May 3rd 21st", {"DMY": None}),
    # r3 widening: connector words, fused YYYYMMDD, ISO time suffix
    ("5 de mayo de 2021", {"DMY": (2021, 5, 5)}),
    ("the 3rd of May 2021", {"DMY": (2021, 5, 3), "MDY": (2021, 5, 3)}),
    ("le 14 juillet 1789", {"DMY": (1789, 7, 14)}),
    ("20210105", {"DMY": (2021, 1, 5), "YMD": (2021, 1, 5), "MDY": (2021, 1, 5)}),
    ("19231340", {"DMY": None}),  # fused but month 13 -> refuse
    ("12345", {"DMY": None}),  # 5/8-digit mismatch stays refused
    ("2021-01-05T10:30:00", {"YMD": (2021, 1, 5)}),
    ("2021-01-05 10:30", {"YMD": (2021, 1, 5)}),
    ("1923-05-03T23:59:59.123Z", {"YMD": (1923, 5, 3)}),
    # time stripping is ISO-anchored ONLY: a trailing time on a non-ISO
    # form must refuse, never misread the day as a 2-digit year
    # (regression found in review: 'May 3 12:30' parsed to (2003, 5, 1))
    ("May 3 12:30", {"MDY": None, "DMY": None}),
    ("3 May 12:30", {"DMY": None}),
]


@pytest.mark.parametrize("text,byorder", _MATRIX)
def test_dateparser_format_matrix(text, byorder):
    """DATE_ORDER × format matrix over dateparser's wider surface
    (reference settings block_identification.py:136-138: PREFER_DAY_OF_
    MONTH='first', REQUIRE_PARTS=['month','year'])."""
    for order, want in byorder.items():
        assert parse(text, order) == want, (text, order)


def test_other_numbers_rule(spark):
    """Catalog-number rule (golden other_numbers column,
    transcription_ento.sql:12): extracts the digit run after 'No.'; the
    date cascade's 'No.' guard means these blocks reach ONLY this rule."""
    from dpo_ocr_spark.interpret.match import match_other_numbers

    blocks = spark.createDataFrame(
        [
            ("u", 0, 0, "No. 1234"),
            ("u", 1, 1, "No.77 det"),
            ("u", 2, 2, "Number 99"),   # no 'No.' keyword → nothing
            ("u", 3, 3, "No. abc"),     # no digits → nothing
        ],
        ["url", "block", "word_line", "block_text"],
    )
    got = {r.block_id: r for r in match_other_numbers(blocks).collect()}
    assert set(got) == {0, 1}
    assert got[0].interpreted_value == "1234"
    assert got[0].verbatim_value == "No. 1234"
    assert got[1].interpreted_value == "77"
    # the guard quirk stays intact: the date cascade ignores these blocks
    assert interpret_block("No. 1234 Jun 1943") is None
