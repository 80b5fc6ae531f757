"""Sketch-backed scale operators: count-min host counts, frequent-items
top-k, and mergeable HLL cardinality rollups.

At 10^12 documents the exact forms of these operators all carry a
corpus-proportional shuffle or state; the sketch forms replace that with
a fixed-size, mergeable summary built in one pass:

- ``source_counts_cms``: Spark's built-in count-min sketch (JVM
  aggregation, mergeable, width×depth ints total) answers per-key count
  point queries without keeping per-key state; exact for heavy hitters
  whenever width ≫ distinct keys (here 20 000 ≫ 20 sources).
- ``term_topk_sketch``: ``approx_top_k`` (frequent-items sketch) —
  exact while distinct items ≤ maxItemsTracked, graceful under web-scale
  vocabularies where an exact groupBy would shuffle every token.
- ``gram_cardinality_hll``: per-group HLL sketches unioned into the
  global row WITHOUT rescanning the input — the mergeable-rollup
  pattern (Apache DataSketches aggregates, Spark 3.5+).  The query
  emits the exact distinct count next to an integer-math ±5% agreement
  flag so the driver gate value-checks the sketch path without hashing
  an approximate float.

Reference parity: the reference has no sketch layer (its corpora fit in
pandas); these are the §"beyond the reference" training-data operators
(SURVEY §6) re-expressed for the 100 TB target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .curation import N_DECON, _docs, _ngrams
from .dedup import _words

# count-min geometry: width 2/eps = 20 000 cells, depth ceil(ln 1/δ) = 7
# rows at δ = 1e-3, fixed seed.  1.1 MB of sketch state answers any
# point count query with ≤ eps·N overcount at confidence 1-δ; with 20
# distinct sources vs 20 000 cells the estimates are collision-free in
# practice (any inflation needs a shared cell in EVERY row).
CMS_EPS = 1.0e-4
CMS_CONF = 0.999
CMS_SEED = 42


def source_counts_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc counts answered from one count-min sketch pass.

    The sketch is a JVM-side mergeable aggregate (partition partials
    merged, never raw rows); the driver pulls only the sketch (fixed
    width×depth) plus the bounded source dimension (20 values) to probe
    it.  Emits (source, n_docs) with n_docs from the SKETCH — the oracle
    compares against exact GROUP BY counts, so any collision would fail
    the hash (deterministic seed: same data → same estimate).
    """
    docs = _docs(spark, sf_dir)
    blob = docs.agg(
        F.expr(
            f"count_min_sketch(source, {CMS_EPS}d, {CMS_CONF}d, {CMS_SEED})"
        ).alias("sk")
    ).collect()[0]["sk"]
    # public sketch API (org.apache.spark.util.sketch.CountMinSketch);
    # the SQL aggregate emits its serialized form
    jvm = spark.sparkContext._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(blob))
    )
    sources = sorted(
        r[0] for r in docs.select("source").distinct().collect()
    )
    rows = [(s, int(sketch.estimateCount(s))) for s in sources]
    return spark.createDataFrame(rows, "source string, n_docs long")


# frequent-items capacity: exact while distinct ≤ maxItemsTracked; the
# fixture vocabulary (31 terms) sits far under it, and at web scale the
# sketch degrades gracefully (heavy hitters stay exact under skew).
TOPK_K = 20
TOPK_TRACKED = 65536


def term_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms via ``approx_top_k`` (frequent-items sketch).

    The sketch call requests MORE than K items (all tracked ties
    included) and the deterministic (count desc, term asc) top-K cut is
    applied as an ordinary sort afterwards, so sketch-internal tie order
    can never leak into the result.
    """
    words = _docs(spark, sf_dir).select(
        F.explode(_words()).alias("term")
    )
    ik = min(TOPK_TRACKED, 10000)
    exploded = (
        words.agg(
            F.expr(
                f"approx_top_k(term, {ik}, {TOPK_TRACKED})"
            ).alias("tk")
        )
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("term"), F.col("e.count").alias("n")
        )
    )
    return (
        exploded.orderBy(F.col("n").desc(), F.col("term"))
        .limit(TOPK_K)
    )


# HLL agreement band: integer math, |est - exact| * 1000 <= 50 * exact
# (±5%; default lgConfigK=12 → ~1.6% RSE, so the flag is stable).
HLL_TOL_X1000 = 50


def gram_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 4-gram cardinality per lang + global, HLL-checked.

    Per-lang HLL sketches are built in ONE pass; the global row unions
    those 5 sketches (``hll_union_agg``) instead of rescanning the gram
    stream — the mergeable-rollup pattern that lets 100 TB jobs answer
    region/global cardinality from shard sketches.  Output carries the
    exact distinct count (BIGINT) and an ``est_ok`` ±5% agreement flag
    so the gate hash stays exact-integer while still failing if the
    sketch path regresses.
    """
    grams = _docs(spark, sf_dir).select(
        "lang",
        F.explode(F.array_distinct(_ngrams(_words(), N_DECON))).alias("gram"),
    )

    ok = (
        F.abs(F.col("est") - F.col("n_distinct")) * 1000
        <= HLL_TOL_X1000 * F.col("n_distinct")
    ).alias("est_ok")
    per_lang = (
        grams.groupBy("lang")
        .agg(
            F.count_distinct("gram").alias("n_distinct"),
            F.expr("hll_sketch_agg(gram)").alias("sk"),
        )
        .select(
            "lang", "n_distinct",
            F.expr("hll_sketch_estimate(sk)").alias("est"), "sk",
        )
    )
    global_row = (
        per_lang.agg(F.expr("hll_union_agg(sk)").alias("sk"))
        .select(F.expr("hll_sketch_estimate(sk)").alias("est"))
        .crossJoin(
            grams.agg(F.count_distinct("gram").alias("n_distinct"))
        )
        .select(F.lit("ALL").alias("lang"), "n_distinct", "est")
    )
    return (
        per_lang.select("lang", "n_distinct", "est")
        .unionByName(global_row)
        .select("lang", "n_distinct", ok)
    )
