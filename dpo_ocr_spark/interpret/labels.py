"""Deterministic specimen-label block fixture (interpretation test input).

The TPC-H document texts contain no dates/elevations/collectors, so the
interpretation stages are exercised over label-like blocks synthesized
JVM-side from orders/customer rows — fully deterministic and re-derivable
in DuckDB SQL, which makes the date cascade oracle-checkable, including
its best quirk: the roman-month map has no XII key
(block_identification.py:143), so December roman dates parse to NOTHING —
the oracle encodes exactly that.

Blocks per selected order (url = 'label://<o_orderkey>'):
  0: roman-numeral date   '<day>-<ROMAN>-<year>'   from o_orderdate
  1: elevation            'Alt <n>00''
  2: bare year            '<year>'
  3: collector            'Coll. <c_name>'
  4: locality (ento_blocks) '<County> Co., <Nation> <tail>' — hits the
     synthetic GADM county gazetteer; the tail word is the
     precise-locality remainder (never digits, never ending in m/'
     so the date/elevation cascade ignores the block)
Deterministic subset: o_orderkey % 100 == 0 (LIMIT without ORDER BY is
nondeterministic — never used).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# precise-locality tails (indexed by k/100 % 5).  Constraint: no digits,
# no trailing ' or m (date/elevation rules), short enough that the
# sorted-token fuzz.ratio of the block vs the county name stays ≥ 80.
PRECISE_TAILS = ["camp", "ridge", "valley", "spring", "summit"]


def county_col(k):  # noqa: ANN001, ANN201 — F.Column in/out
    """County name by label key — THE shared derivation (fixture +
    golden + the SQL twins in queries_eval must stay in lockstep).
    Index on k/100, not k: label keys are multiples of 100, so k % m is
    degenerate for m | 100."""
    from pyspark.sql import functions as F

    from .dims import _COUNTIES

    return F.element_at(
        F.array(*[F.lit(c) for c in _COUNTIES]), ((k / 100) % 10 + 1).cast("int")
    )


def tail_col(k):  # noqa: ANN001, ANN201
    """Precise-locality tail by label key (see county_col)."""
    from pyspark.sql import functions as F

    return F.element_at(
        F.array(*[F.lit(t) for t in PRECISE_TAILS]),
        ((k / 100) % 5 + 1).cast("int"),
    )

ROMAN_OF_MONTH = [
    None, "I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X",
    "XI", "XII",
]


def _label_base(
    spark: SparkSession, sf_dir: str, nation: bool = False,
    region: bool = False,
) -> DataFrame:
    """One joined base frame per fixture family.  The block builders
    below emit every block row from a SINGLE pass over this frame
    (inline array + explode) instead of a unionByName of per-block
    selects — Catalyst does not share subplans across union branches, so
    the union form re-executed the orders⋈customer join once per block
    family (up to 7×).  Same rows, one join."""
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 100 == 0)
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = orders.join(cust, orders.o_custkey == cust.c_custkey)
    cols = [
        F.concat(F.lit("label://"), F.col("o_orderkey")).alias("url"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("c_name").alias("cname"),
    ]
    if nation or region:
        nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
        o = o.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        cols.append(F.initcap("n_name").alias("state"))
    if region:
        reg = spark.read.parquet(f"{sf_dir}/region.parquet")
        o = o.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        cols.append(F.col("r_name").alias("rname"))
    return o.select(*cols)


def _explode_blocks(o: DataFrame, entries) -> DataFrame:
    """(block_no, text_col) pairs → one (url, block, word_line,
    block_text) row each, emitted in a single projection."""
    arr = F.array(*[
        F.struct(
            F.lit(b).alias("block"),
            F.lit(b).alias("word_line"),
            text.alias("block_text"),
        )
        for b, text in entries
    ])
    return o.select("url", F.explode(arr).alias("e")).select(
        "url", "e.block", "e.word_line", "e.block_text"
    )


def _core_entries():
    """Blocks 0-3 (date / elevation / bare year / collector) — shared by
    every fixture family."""
    roman = F.expr(
        "CASE month(d) " + " ".join(
            f"WHEN {m} THEN '{r}'" for m, r in enumerate(ROMAN_OF_MONTH) if r
        ) + " END"
    )
    return [
        (0, F.concat_ws(
            "-", F.dayofmonth("d").cast("string"), roman,
            F.year("d").cast("string"))),
        (1, F.concat(
            F.lit("Alt "), ((F.col("k") % 40) * 100 + 100).cast("string"),
            F.lit("'"))),
        (2, F.year("d").cast("string")),
        (3, F.concat(F.lit("Coll. "), F.col("cname"))),
    ]


def _locality_text():
    """Block-4 locality: '<County> Co., <InitcapNation> <tail>'."""
    return F.concat(
        county_col(F.col("k")), F.lit(" Co., "), F.col("state"),
        F.lit(" "), tail_col(F.col("k")),
    )


def _catalog_text():
    """Block-6 catalog number 'No. <n>' — the golden other_numbers column
    (transcription_ento.sql:12).  The 'No.' keyword guard makes the date
    cascade skip it (block_identification.py:110-115 quirk); the
    match_other_numbers rule picks it up."""
    return F.concat(
        F.lit("No. "), (F.col("k") / 100 + 100000).cast("int").cast("string")
    )


def label_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _explode_blocks(
        _label_base(spark, sf_dir), _core_entries()
    )


def ento_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_blocks + the 8-field locality block (the eval-harness input):
      4: '<County> Co., <InitcapNation> <tail>'
    The county/nation part hits the synthetic GADM county gazetteer at
    sorted-token ratio ≥ 80 (then best-substring 100), from which
    ``expand_locality`` derives district_county / state_territory /
    country / precise_locality — the locality family of the reference
    golden schema (database/transcription_ento.sql:6-10).  Plus block 6,
    the catalog number (block 5 is the taxonomy block in
    label_blocks_with_dims)."""
    return _explode_blocks(
        _label_base(spark, sf_dir, nation=True),
        _core_entries() + [(4, _locality_text()), (6, _catalog_text())],
    )


def auto_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_blocks + cascade-shaped blocks for the §3.3 auto-match flow.

    The cascade's candidate generator never includes a block's LAST word
    (auto_id_compare.py:283-285 quirk), so the 2-word label blocks yield
    only their first word as a candidate.  These blocks carry a trailing
    filler word so the value itself becomes a candidate substring:
      4: 'Coll. <c_name> det.'           — collector hits when the same
         customer has orders in both ref and test splits
      5: 'in <customer region> near camp' — geo (gadm0/country) gazetteer
         hit (fuzz.ratio 100 vs the region name → inserts the gazetteer
         name, auto_id_compare.py:537-555)
      6: '<County> Co., <Nation> <tail>'  — the ento locality block: feeds
         the 8-field dictionary cascade and the auto_geo state/county
         passes (bare '<Nation>' and '<County> Co., <Nation>' are both
         candidate substrings; the tail word never is)
    """
    return _explode_blocks(
        _label_base(spark, sf_dir, region=True),
        _core_entries() + [
            (4, F.concat(F.lit("Coll. "), F.col("cname"), F.lit(" det."))),
            (5, F.concat(F.lit("in "), F.col("rname"), F.lit(" near camp"))),
            (6, _locality_text()),
        ],
    )


def label_blocks_with_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ento_blocks (locality block 4) + a taxonomy block (5) that hits the
    synthetic taxonomy dims exactly — exercises match_localities /
    match_taxonomy / similarity_fallback end-to-end."""
    from .dims import _GENERA, _SPECIES

    sci = F.element_at(
        F.array(*[F.lit(f"{g} {s}") for g, s in zip(_GENERA, _SPECIES)]),
        (F.col("k") % 10 + 1).cast("int"),
    )
    return _explode_blocks(
        _label_base(spark, sf_dir, nation=True),
        _core_entries()
        + [(4, _locality_text()), (5, sci), (6, _catalog_text())],
    )
