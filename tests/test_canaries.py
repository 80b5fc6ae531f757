"""Pin the gate canaries (queries_canary.py): expected constant values on
the Spark side, matching DuckDB oracle values, and — for the two deliberate
probes — the DuckDB output types they exist to exercise."""

from __future__ import annotations

import decimal

import duckdb
import pytest

import __spark_entry__ as E
from dpo_ocr_spark import queries as Q
from sf_fixture import SD

EXPECTED = {
    "canary_literals": [(42, 1.5, "x", True, None)],
    "canary_int_div": [(3, 0, 142857142857)],
    "canary_epoch_us": [(1704164645123456,)],
    "canary_floor_half": [(43500, 514755, 7)],
    "canary_rollup_sentinel": [("ALL", 3), ("a", 2), ("b", 1)],
    "canary_json_arrow": [(3, "x")],
    "canary_float_str": [(0.1 + 0.2, 0.0005, 1.0 / 3.0)],
    "canary_sum_cast_bigint": [(15, 5)],
    "canary_hugeint": [(15,)],
    "canary_decimal": [(decimal.Decimal("123.4567"),)],
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_canary_spark_values(spark, name):
    rows = sorted(map(tuple, E.queries()[name](spark, SD).collect()))
    assert rows == sorted(EXPECTED[name])


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_canary_oracle_values(name):
    con = duckdb.connect()
    rows = sorted(map(tuple, con.execute(E.oracle_sql()[name]).fetchall()))
    assert rows == sorted(EXPECTED[name])


def test_canary_probe_types():
    """The deliberate canaries must keep emitting the banned DuckDB types
    (else they stop probing the r4 failure mode), and every other canary
    oracle must be free of them."""
    con = duckdb.connect()

    def out_types(sql):
        return [r[1] for r in
                con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]

    assert out_types(E.oracle_sql()["canary_hugeint"]) == ["HUGEINT"]
    assert out_types(E.oracle_sql()["canary_decimal"]) == ["DECIMAL(38,4)"]
    for name in EXPECTED:
        if name in ("canary_hugeint", "canary_decimal"):
            continue
        assert not any(
            t.startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
            for t in out_types(E.oracle_sql()[name])
        ), name


def test_canaries_hold_registry_slots_3_to_12():
    names = list(E.queries())
    assert names[:2] == ["extract_text", "block_assembly"]
    assert all(n.startswith("canary_") for n in names[2:12])
    assert len([n for n in names[:12] if n.startswith("canary_")]) == 10


def test_driver_sample_boundary_is_deliberate():
    """All 50 driver-sampled slots are named in _FIRST — no query receives
    a driver row by registration-order accident, and a future module
    reorder cannot silently swap which queries are sampled."""
    names = list(E.queries())
    assert len(Q._FIRST) == 50
    assert names[:50] == Q._FIRST
    assert names[48:50] == ["streaming_extract", "streaming_dedup"]
