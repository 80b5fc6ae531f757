"""Interpret-cascade stage queries (VERDICT r4 #5): the §3.2 pipeline's
END-TO-END output (``interpret_full`` — dates → locality family → taxonomy →
collector → similarity fallback, merged with the reference's ON CONFLICT
upsert semantics, block_identification.py:84-364) decomposed into six
oracle-checkable stage slices over ONE stage-cached cascade frame, plus a
full-table oracle for the composite itself.

The oracles re-derive the designed fixture outcome in SQL (the
eval_accuracy_exact trick — same determinism contract as
interpret/labels.py).  The load-bearing semantics they pin:

- **X11 quirk**: December roman dates parse to nothing in the date stage;
  the similarity fallback then recovers the block with the most word-similar
  existing row's (data_type, data_format) — ``('verbatim_date', 'Date
  (year)')``, matched at word_similarity 1.0 (the label's own year-row
  trigrams are a contained extent) → the ONLY 'similarity'-source rows.
- **Upsert overwrite quirk** (reference :49: ON CONFLICT DO UPDATE SET
  interpreted_value, verbatim_value — ONLY those two): the fallback fires on
  every block still missing some data_type, so on conflicting keys it
  overwrites iv/vv with the raw block text while data_source / match_score /
  data_format keep the base row's values.  That is why the final elevation
  row reads ``Alt 100'`` (not the date-stage's list-repr ``['100']'``), the
  collector row keeps its ``Coll. `` prefix, and district_county holds the
  full block text with the precise tail — each a designed, pinned outcome.
- **Gazetteer expansion**: state_territory / country carry the hierarchy
  values with the matched substring as verbatim; precise_locality is the
  un-gazetteered remainder.
- **Too-short guard** (:354): the bare-year and catalog-number blocks are
  fallback-exempt (alpha < 5), so the year row survives unoverwritten and
  block 6 emits nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .interpret.dims import _GENERA, _SPECIES
from .interpret.labels import ROMAN_OF_MONTH
from .queries import _COUNTY_SQL, _LBL_CTE, _TAIL_SQL, register

# roman month of d INCLUDING XII (the date-stage filter, not the map,
# encodes the X11 quirk here: block text always renders December as XII)
_ROMAN_D_SQL = "CASE month(d) " + " ".join(
    f"WHEN {m} THEN '{r}'" for m, r in enumerate(ROMAN_OF_MONTH) if r
) + " END"

_SCI_SQL = (
    "[" + ", ".join(f"'{g} {s}'" for g, s in zip(_GENERA, _SPECIES)) + "]"
    "[CAST(k % 10 AS INT) + 1]"
)

# shared derived columns over the label fixture
_CASCADE_CTE = f"""
{_LBL_CTE},
lbl2 AS (
  SELECT url, d, k, cname, state_name, country_name,
         CAST(day(d) AS VARCHAR) || '-' || {_ROMAN_D_SQL} || '-'
           || CAST(year(d) AS VARCHAR) AS date_text,
         {_COUNTY_SQL} || ' Co., ' || state_name AS gaz_name,
         {_COUNTY_SQL} || ' Co., ' || state_name || ' ' || {_TAIL_SQL}
           AS loc_text,
         {_TAIL_SQL} AS tail,
         {_SCI_SQL} AS sci
  FROM lbl
)
"""

_D0 = "CAST(0.0 AS DOUBLE)"

_SQL_DATES = f"""
SELECT url, 0 AS block_id, 'verbatim_date' AS data_type,
       'Date (Y-M-D)' AS data_format,
       date_text AS interpreted_value, date_text AS verbatim_value,
       '' AS data_source, {_D0} AS match_score
FROM lbl2 WHERE month(d) != 12
UNION ALL
SELECT url, 2, 'verbatim_date', 'Date (year)',
       CAST(year(d) AS VARCHAR), CAST(year(d) AS VARCHAR), '', {_D0}
FROM lbl2
"""

_SQL_FALLBACK = f"""
SELECT url, 0 AS block_id, 'verbatim_date' AS data_type,
       'Date (year)' AS data_format,
       date_text AS interpreted_value, date_text AS verbatim_value,
       'similarity' AS data_source, CAST(1.0 AS DOUBLE) AS match_score
FROM lbl2 WHERE month(d) = 12
"""

_SQL_ELEVATION = f"""
SELECT url, 1 AS block_id, 'elevation' AS data_type,
       'elevation' AS data_format,
       'Alt ' || CAST((k % 40) * 100 + 100 AS VARCHAR) || chr(39)
         AS interpreted_value,
       'Alt ' || CAST((k % 40) * 100 + 100 AS VARCHAR) || chr(39)
         AS verbatim_value,
       '' AS data_source, {_D0} AS match_score
FROM lbl2
"""

_SQL_COLLECTOR = f"""
SELECT url, 3 AS block_id, 'collector' AS data_type,
       'collector' AS data_format,
       'Coll. ' || cname AS interpreted_value,
       'Coll. ' || cname AS verbatim_value,
       '' AS data_source, {_D0} AS match_score
FROM lbl2
"""

_SQL_LOCALITY = f"""
SELECT url, 4 AS block_id, 'verbatim_locality' AS data_type,
       'locality:county' AS data_format,
       gaz_name AS interpreted_value, gaz_name AS verbatim_value,
       '' AS data_source, {_D0} AS match_score
FROM lbl2
UNION ALL
SELECT url, 4, 'district_county', 'locality:county',
       loc_text, loc_text, 'gazetteer', {_D0}
FROM lbl2
UNION ALL
SELECT url, 4, 'state_territory', 'locality:county',
       state_name, gaz_name, 'gazetteer', {_D0}
FROM lbl2
UNION ALL
SELECT url, 4, 'country', 'locality:county',
       country_name, gaz_name, 'gazetteer', {_D0}
FROM lbl2
UNION ALL
SELECT url, 4, 'precise_locality', 'locality:precise',
       tail, tail, 'gazetteer', {_D0}
FROM lbl2
"""

_SQL_TAXONOMY = f"""
SELECT url, 5 AS block_id, 'taxonomy' AS data_type,
       'taxonomy:species' AS data_format,
       sci AS interpreted_value, sci AS verbatim_value,
       '' AS data_source, {_D0} AS match_score
FROM lbl2
"""


def _full_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stage-cached §3.2 cascade output all six slices share."""
    from .stagecache import shared

    def build() -> DataFrame:
        from .interpret.dims import gazetteer, gazetteer_hierarchy, taxonomy
        from .interpret.labels import label_blocks_with_dims
        from .interpret.match import interpret_all

        blocks = label_blocks_with_dims(spark, sf_dir)
        return interpret_all(
            spark, blocks, gazetteer(spark, sf_dir), taxonomy(spark),
            hierarchy=gazetteer_hierarchy(spark, sf_dir),
        )

    return shared(spark, f"interpret_full:{sf_dir}", build)


def _stage(name: str, sql: str, predicate) -> None:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _full_frame(spark, sf_dir).filter(predicate())

    fn.__name__ = f"_q_{name}"
    register(name, f"WITH {_CASCADE_CTE} {sql}")(fn)


_stage(
    "cascade_dates", _SQL_DATES,
    lambda: (F.col("data_type") == "verbatim_date")
    & (F.col("data_source") == ""),
)
_stage(
    "cascade_fallback", _SQL_FALLBACK,
    lambda: F.col("data_source") == "similarity",
)
_stage(
    "cascade_elevation", _SQL_ELEVATION,
    lambda: F.col("data_type") == "elevation",
)
_stage(
    "cascade_collector", _SQL_COLLECTOR,
    lambda: F.col("data_type") == "collector",
)
_stage(
    "cascade_locality", _SQL_LOCALITY,
    lambda: F.col("data_format").startswith("locality"),
)
_stage(
    "cascade_taxonomy", _SQL_TAXONOMY,
    lambda: F.col("data_type") == "taxonomy",
)

# The composite itself: the six slices partition the cascade output, so
# their UNION ALL is a full-table oracle — interpret_full stops being the
# rows-only row it has been since r1.
INTERPRET_FULL_ORACLE = f"""
WITH {_CASCADE_CTE}
{_SQL_DATES}
UNION ALL
{_SQL_FALLBACK}
UNION ALL
{_SQL_ELEVATION}
UNION ALL
{_SQL_COLLECTOR}
UNION ALL
{_SQL_LOCALITY}
UNION ALL
{_SQL_TAXONOMY}
"""

register("interpret_full", INTERPRET_FULL_ORACLE)(_full_frame)
