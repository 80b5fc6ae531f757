"""The six cascade stage slices (queries_cascade.py) must PARTITION the
interpret_full output — no row lost, none double-counted — and the pinned
upsert-overwrite quirks must hold (fallback overwrites iv/vv only)."""

from __future__ import annotations

import __spark_entry__ as E
from sf_fixture import SD

STAGES = [
    "cascade_dates", "cascade_fallback", "cascade_elevation",
    "cascade_collector", "cascade_locality", "cascade_taxonomy",
]


def test_stages_partition_full_output(spark):
    full = sorted(map(tuple, E.queries()["interpret_full"](spark, SD).collect()))
    parts = []
    for name in STAGES:
        parts.extend(map(tuple, E.queries()[name](spark, SD).collect()))
    assert sorted(parts) == full


def test_fallback_overwrite_quirk(spark):
    """ON CONFLICT DO UPDATE SET iv, vv (reference :49): the fallback
    overwrites values with raw block text but base data_source/match_score
    survive — elevation keeps source='' while showing the 'Alt N'' text
    (not the date-stage list-repr), and the only 'similarity' rows are the
    December X11 recoveries at score 1.0 with the matched row's format."""
    rows = E.queries()["interpret_full"](spark, SD).collect()
    elev = [r for r in rows if r.data_type == "elevation"]
    assert elev and all(
        r.interpreted_value.startswith("Alt ")
        and r.data_source == "" and r.match_score == 0.0
        for r in elev
    )
    sim = [r for r in rows if r.data_source == "similarity"]
    assert sim and all(
        r.data_type == "verbatim_date"
        and r.data_format == "Date (year)"
        and "-XII-" in r.interpreted_value
        and r.match_score == 1.0
        for r in sim
    )
    # and no Y-M-D row for December anywhere (the X11 quirk itself)
    assert not any(
        r.data_format == "Date (Y-M-D)" and "-XII-" in r.interpreted_value
        for r in rows
    )
