"""Reference twins of the dedup kernels in ``dpo_ocr_spark.ops.dedup``.

Each is the plain Spark SQL form that an Arrow kernel or a single-pass
pipeline on the production path replaced.  Only tests call them: the
equivalence tests in tests/test_ops.py pin the production forms to these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dpo_ocr_spark.ops import dedup as D, similarity as S

# the word contract spelled out in SQL (the production form is
# dedup._words(); a reference does not import what it checks)
_WS_SQL = "split(regexp_replace(lower(text), '\\\\s+', ' '), ' ')"


def _shingles() -> F.Column:
    """Ordered word-3-gram shingles of the normalized text (distinct).
    Texts shorter than K words yield one (short) shingle — the oracle SQL
    mirrors the same clipping via inclusive list slices."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({_WS_SQL}) - "
            f"{D.SHINGLE_K - 1}, 1)), "
            f"i -> concat_ws(' ', slice({_WS_SQL}, i, {D.SHINGLE_K})))"
        )
    )


def shingle_frame_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) exploded distinct shingles — pure-SQL reference
    implementation (the oracle-parity definition)."""
    return (
        D._docs(spark, sf_dir)
        .select("doc_id", F.explode(_shingles()).alias("shingle"))
    )


def ngram_jaccard_from_shingles(
    sh: DataFrame, threshold_x1000: int = 300
) -> DataFrame:
    """Exact word-shingle Jaccard over all pairs sharing ≥1 shingle.

    Join on shingle (never crossJoin): candidate pairs are generated only
    where an inverted-index bucket overlaps — the same sparsity argument
    that makes this viable at scale, here with exact verification.
    Shingles with document frequency > MAX_GROUP are dropped from the
    intersection (observed drop count: drop_stats('ngram_jaccard')) —
    the stop-shingle fan-out cap; sizes/denominators stay exact.
    Jaccard emitted ×1000 integer-floored (engine-exact)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # inverted index → in-bucket pair fan-out (one shuffle; the previous
    # shingle-equality self-join recomputed the shingle kernel per side
    # and shuffled the full frame twice)
    inter = (
        D._capped_groups(
            sh.groupBy("shingle").agg(
                F.sort_array(F.collect_list("doc_id")).alias("ids")
            ),
            "ngram_jaccard",
        )
        .select(F.explode(D._pair_combos("ids")).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
            F.floor(
                F.col("n_inter") * 1000
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).cast("long").alias("jaccard_x1000"),
        )
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
    )


def _minhash_cols() -> list[F.Column]:
    """k minhashes from ONE md5 per shingle (12 md5s/shingle was the
    measured sf0.1 hot spot: 90s → universal-hash derivation
    h_i = (a_i·base + b_i) mod 2³¹−1 from base = md5int(shingle) mod 2³¹−1.
    Engine-portable: DuckDB computes the identical md5/hex-int/modulo."""
    base = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long") % D._MERSENNE31
    )
    cols = []
    for i in range(D.MINHASH_K):
        h = (base * (2 * i + 3) + i * 7 + 1) % D._MERSENNE31
        cols.append(F.min(h).alias(f"mh_{i}"))
    return cols


def minhash_of(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(*_minhash_cols())


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, t_num: int = 2, t_den: int = 5
) -> DataFrame:
    """Pairs with cosine ≥ t, decided in EXACT integer arithmetic:
    dot > 0 and dot² · t_den² ≥ t_num² · |a|²·|b|² — bit-identical across
    engines (no float in the predicate).  All-pairs here (500 vecs); the
    scale path buckets by LSH first (ops/similarity.py)."""
    emb = S._emb(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            dot.alias("dot"),
            F.col("a.norm2").alias("na"),
            F.col("b.norm2").alias("nb"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * (t_den * t_den)
                >= F.lit(t_num * t_num) * F.col("na") * F.col("nb")
            )
        )
        .select("vec_a", "vec_b")
    )
    return pairs
