"""Sketch-backed scale operators: bloom-prescreened decontamination,
count-min host counts, frequent-items top-k, and mergeable HLL
cardinality rollups.

At 10^12 documents the exact forms of these operators all carry a
corpus-proportional shuffle or state; the sketch forms replace that with
a fixed-size, mergeable summary built in one pass:

- ``decontaminate_bloom``: a bloom filter over the eval n-gram set
  (fixed M bits however large the corpus) prescreens corpus grams BEFORE
  any join, so only candidate grams — contamination hits plus a
  vanishing FP stream — reach the exact verify join.  When the eval set
  grows with the corpus, the prescreen cuts the verify join's corpus side
  to the survivors only.
  Output is EXACTLY ``ops.curation.decontaminate``'s by construction:
  the same hashes build and probe the filter (no false negatives), and
  the verify join removes every false positive — hash values affect
  performance, never results.
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

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .curation import EVAL_MOD, N_DECON, _docs, _ngrams, _words

# Bloom geometry: M bits / K hashes.  Eval suites are a few 10^5-10^6
# n-grams in production (MMLU/GSM8K/...-scale); M = 2^23 bits (1 MiB)
# keeps FP ~ (1-e^{-Kn/M})^K < 1e-6 at n = 10^5, and the broadcast is a
# single megabyte per executor regardless of corpus size.
BLOOM_BITS = 1 << 23
BLOOM_K = 7
# pandas hash_array keys (16 bytes each): h_i = h1 + i*h2 double hashing.
_KEY1 = "dpo-bloom-h1-key"
_KEY2 = "dpo-bloom-h2-key"


def _bloom_indices(grams: np.ndarray) -> Iterator[np.ndarray]:
    """K bit positions per gram, vectorized (uint64 double hashing)."""
    h1 = pd.util.hash_array(grams, hash_key=_KEY1, categorize=False)
    h2 = pd.util.hash_array(grams, hash_key=_KEY2, categorize=False)
    for i in range(BLOOM_K):
        yield (h1 + np.uint64(i) * h2) % np.uint64(BLOOM_BITS)


def _gram_frame(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(_words(), N_DECON))).alias("gram"),
    )


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ops.curation.decontaminate` semantics through a bloom prescreen.

    Build: per-partition M-bit arrays over the eval gram set
    (mapInPandas), OR-merged on the driver — the ONLY driver-side
    materialization is #partitions fixed-size bit arrays, never rows.
    Probe: corpus grams stream through a vectorized membership test;
    survivors (true hits + deterministic FPs) go to the exact verify
    join, which restores exact semantics.
    """
    docs = _docs(spark, sf_dir)
    grams = _gram_frame(docs)
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(BLOOM_BITS // 8, dtype=np.uint8)
        seen = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            seen = True
            g = np.asarray(pdf["gram"], dtype=object)
            for idx in _bloom_indices(g):
                np.bitwise_or.at(
                    bits, (idx >> np.uint64(3)).astype(np.int64),
                    np.left_shift(
                        np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)
                    ),
                )
        if seen:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = eval_grams.mapInPandas(build, "bits binary").collect()
    merged = np.zeros(BLOOM_BITS // 8, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    bc = spark.sparkContext.broadcast(merged.tobytes())

    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in it:
            if len(pdf) == 0:
                continue
            g = np.asarray(pdf["gram"], dtype=object)
            mask = np.ones(len(g), dtype=bool)
            for idx in _bloom_indices(g):
                byte = (idx >> np.uint64(3)).astype(np.int64)
                bit = (idx & np.uint64(7)).astype(np.uint8)
                mask &= (bits[byte] >> bit) & 1 == 1
            if mask.any():
                yield pdf[mask]

    corpus = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    survivors = corpus.mapInPandas(probe, grams.schema)
    hits = (
        survivors.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id", "lang")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


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
