"""Deterministic broadcast dimension tables (gazetteer / taxonomy / zones).

The reference loads GADM gazetteers and an ocr_taxonomy table from
databases (block_identification.py:206-233, 270-282).  No external data is
allowed here, so the dimensions are synthesized deterministically from the
driver's TPC-H tables plus fixed word lists — same shapes as FIXTURES.md
§6-§8, fully reproducible on any engine.

The leveled-union derivation of the taxonomy dictionary reproduces U1
(4 projections with sortorder 1-4, UNION-dedup, ORDER BY sciname,
sortorder — block_identification.py:270-282).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_GENERA = ["Apis", "Bombus", "Vespa", "Formica", "Lasius",
           "Camponotus", "Papilio", "Danaus", "Pieris", "Vanessa"]
_SPECIES = ["mellifera", "terrestris", "crabro", "rufa", "niger",
            "ligniperda", "machaon", "plexippus", "rapae", "atalanta"]
_FAMILIES = ["Apidae", "Vespidae", "Formicidae", "Papilionidae",
             "Nymphalidae"]

_COUNTIES = ["Clark", "Marion", "Lincoln", "Wayne", "Union",
             "Grant", "Logan", "Perry", "Adams", "Custer"]


def _gadm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic GADM hierarchy (name_0 ⊃ name_1 ⊃ name_2): the containment
    direction of TPC-H is region ⊃ nation, so the level mapping is
    name_0 (country) := region, name_1 (state) := nation,
    name_2 (county)  := fixed county list × nation.
    One row per (nation, county): 25 × 10 = 250, every name unique."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    county = spark.createDataFrame([(c,) for c in _COUNTIES], ["county"])
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .crossJoin(F.broadcast(county))
        .select(
            F.initcap("r_name").alias("country"),
            F.initcap("n_name").alias("state"),
            F.col("county"),
            F.col("n_nationkey").alias("k"),
        )
    )


def gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locality dimension: county / state / sub-state / country name
    variants, mirroring the 4 GADM level queries
    (auto_id_compare.py:486-510, block_identification.py:205-233):
    counties as ``name_2 || ' Co., ' || name_1``, states as
    ``name_1 || ', ' || name_0``, sub-states as
    ``name_2 || ', ' || name_1 || ', ' || name_0``, countries as
    ``name_0``.  Rows are explicitly ordered (name, uid): the reference
    iterates an unspecified DB order; a pinned order keeps argmax
    tie-breaks engine-reproducible."""
    g = _gadm(spark, sf_dir)
    counties = g.select(
        F.concat(F.col("county"), F.lit(" Co., "), F.col("state")).alias("name"),
        F.lit("locality:county").alias("name_type"),
        F.concat(F.lit("g2:"), F.col("k"), F.lit(":"), F.col("county")).alias("uid"),
    )
    states = g.select(
        F.concat_ws(", ", "state", "country").alias("name"),
        F.lit("locality:state").alias("name_type"),
        F.concat(F.lit("g1:"), F.col("k")).alias("uid"),
    ).distinct()
    sub_states = g.select(
        F.concat_ws(", ", "county", "state", "country").alias("name"),
        F.lit("locality:sub-state").alias("name_type"),
        F.concat(F.lit("gs:"), F.col("k"), F.lit(":"), F.col("county")).alias("uid"),
    )
    countries = g.select(
        F.col("country").alias("name"),
        F.lit("locality:country").alias("name_type"),
        F.concat(F.lit("g0:"), F.col("country")).alias("uid"),
    ).distinct()
    # match order of the reference's localities_match frame: counties,
    # states, sub-states, countries (block_identification.py:247-248),
    # each level internally sorted (determinism pin, see docstring)
    return (
        counties.orderBy("name", "uid")
        .unionByName(states.orderBy("name", "uid"))
        .unionByName(sub_states.orderBy("name", "uid"))
        .unionByName(countries.orderBy("name", "uid"))
    )


def gazetteer_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name, name_type) → admin hierarchy columns, the analog of joining
    a matched gazetteer uid back to gadm0/1/2 rows (the reference's geo
    passes carry name_1/name_0 alongside the matched name,
    auto_id_compare.py:500-510).  Broadcast-sized: ≤ 530 rows."""
    g = _gadm(spark, sf_dir)
    county_h = g.select(
        F.concat(F.col("county"), F.lit(" Co., "), F.col("state")).alias("name"),
        F.lit("locality:county").alias("name_type"),
        F.col("county").alias("district_county"),
        F.col("state").alias("state_territory"),
        F.col("country"),
    )
    sub_h = g.select(
        F.concat_ws(", ", "county", "state", "country").alias("name"),
        F.lit("locality:sub-state").alias("name_type"),
        F.col("county").alias("district_county"),
        F.col("state").alias("state_territory"),
        F.col("country"),
    )
    state_h = g.select(
        F.concat_ws(", ", "state", "country").alias("name"),
        F.lit("locality:state").alias("name_type"),
        F.lit(None).cast("string").alias("district_county"),
        F.col("state").alias("state_territory"),
        F.col("country"),
    ).distinct()
    country_h = g.select(
        F.col("country").alias("name"),
        F.lit("locality:country").alias("name_type"),
        F.lit(None).cast("string").alias("district_county"),
        F.lit(None).cast("string").alias("state_territory"),
        F.col("country"),
    ).distinct()
    return (
        county_h.unionByName(sub_h)
        .unionByName(state_h)
        .unionByName(country_h)
    )


def taxonomy(spark: SparkSession) -> DataFrame:
    """Leveled taxonomy dictionary (sciname, sortorder, name_type) —
    the U1 union of species / species_abbr / genus / family projections
    with UNION-dedup and ORDER BY sciname, sortorder."""
    rows = []
    for i, (g, s) in enumerate(zip(_GENERA, _SPECIES)):
        fam = _FAMILIES[i % len(_FAMILIES)]
        rows.append((g, s, fam))
    base = spark.createDataFrame(rows, ["genus", "species", "family"])
    levels = (
        base.select(
            F.concat_ws(" ", "genus", "species").alias("sciname"),
            F.lit(1).alias("sortorder"),
            F.lit("taxonomy:species").alias("name_type"),
        )
        .unionByName(
            base.select(
                F.col("species").alias("sciname"),
                F.lit(2).alias("sortorder"),
                F.lit("taxonomy:species_abbr").alias("name_type"),
            )
        )
        .unionByName(
            base.select(
                F.col("genus").alias("sciname"),
                F.lit(3).alias("sortorder"),
                F.lit("taxonomy:genus").alias("name_type"),
            )
        )
        .unionByName(
            base.select(
                F.col("family").alias("sciname"),
                F.lit(4).alias("sortorder"),
                F.lit("taxonomy:family").alias("name_type"),
            )
        )
        .distinct()
        .orderBy("sciname", "sortorder")
    )
    return levels


COLLECTOR_STRINGS = ("Coll.", "Collector", "leg.", "coll by")
