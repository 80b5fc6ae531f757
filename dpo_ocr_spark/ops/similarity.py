"""Embedding arithmetic and the queries built on it: near-dup, ANN search,
k-means centroids and semantic pruning.

The integer-exact contract, shared by every query here and by their
DuckDB oracles: vectors are quantized to int64 (``_emb``), dot products
are exact integers (``_dot``), and a cosine is one IEEE double division
of exact integers (``_cos``) — so both engines produce bit-identical
doubles and identical orderings.  Means round half away from zero in
pure integer arithmetic (``_int_mean``), so centroids stay int64 vectors.

- ``brute_force_topk``: exact cosine top-k per query — the correctness
  baseline.  Per-query window argmax (never a global sort).
- ``lsh_topk``: the scale path — random-hyperplane sign buckets
  (hyperplanes derived from md5, engine-free determinism), candidates
  restricted to same-bucket rows, then exact re-rank.  At 10¹² rows the
  bucket join replaces the all-pairs crossJoin; recall is tested in pytest
  against the brute-force baseline.
- ``embedding_neardup_lsh``: integer-quantized cosine gate over the same
  buckets — exact arithmetic, so Spark and DuckDB agree bit-for-bit (see
  the _QUANT comment).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .dedup import _capped_groups, _pair_combos

# embedding quantization: round(x * 10^3) → exact BIGINT arithmetic.
# Overflow budget: |x| ≤ 1, dims ≤ 128 → |dot| ≤ 1.28e8, dot² ≤ 1.64e16;
# with t = COS_NUM/COS_DEN ≤ 1 and COS_DEN ≤ 20: dot²·COS_DEN² ≤ 6.6e18
# < 2^63 and COS_NUM²·na·nb ≤ 6.6e18 < 2^63.
_QUANT = 1_000
COS_NUM, COS_DEN = 2, 5  # embedding near-dup gate: cosine ≥ 2/5
N_QUERIES = 10  # vec_id < N_QUERIES act as the query set
TOP_K = 5
# multi-table LSH: L tables × k planes each.  One fine table would give
# tiny buckets and ~2% recall; L coarser tables unioned trade compute for
# recall (P[collide in ≥1 table] = 1-(1-(1-θ/π)^k)^L).
LSH_TABLES = 8
LSH_PLANES = 4  # 2^4 buckets per table
# multiprobe: queries also probe buckets at Hamming distance ≤1 from
# their own (flip each plane bit) — 1+LSH_PLANES probes per table.  The
# fan-out lives entirely on the broadcast QUERY side (queries × tables ×
# probes rows), so at 10¹² corpus rows the corpus-side work is unchanged
# while recall rises as if L were ~(1+k)× larger.
MULTIPROBE_RADIUS = 1


def _dot(a: str | F.Column, b: str | F.Column) -> F.Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cos(a: str, na: str, b: str, nb: str) -> F.Column:
    """Cosine of vectors ``a``, ``b`` with squared norms ``na``, ``nb``:
    double(dot) / sqrt(double(na)·double(nb)), each step IEEE-rounded."""
    return _dot(a, b).cast("double") / F.sqrt(
        F.col(na).cast("double") * F.col(nb).cast("double")
    )


def _int_mean(s: str, c: str) -> F.Column:
    """sum ``s`` / count ``c`` rounded half away from zero in pure
    integer arithmetic: s≥0: (2s+c) div 2c, else the negated positive
    form."""
    return F.expr(
        f"CASE WHEN {s} >= 0 THEN (2 * {s} + {c}) div (2 * {c}) "
        f"ELSE -(((-2 * {s}) + {c}) div (2 * {c})) END"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan at size-derived parallelism: the per-row work
    here is a small integer matmul, so ~256 KB of compressed vectors per
    task keeps tasks meaningful (a fixed core-count fan-out spread 2 000
    fixture rows over 32 tasks — the repartition + dispatch overhead was
    ~0.6 s per consumption, measured); clamps to 2×cores at scale.
    Rows are (vec_id, label, q, norm2): q the quantized embedding, norm2
    its exact integer squared norm."""
    from ..scale import decode_partitions, ensure_parallelism

    df = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        min_parts=decode_partitions(
            spark, sf_dir, table="embeddings.parquet",
            per_task_bytes=256 << 10,
        ),
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _QUANT).cast("long"),
    )
    return df.select("vec_id", "label", q.alias("q"), _dot(q, q).alias("norm2"))


def _topk(scored: DataFrame) -> DataFrame:
    """(query_id, cand_id, cos) → each query's TOP_K candidates by
    (cos desc, cand_id asc): per-query window argmax, never a global
    sort."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", "cand_id", F.col("rn").alias("rank"),
            F.round("cos", 6).alias("cos_r6"),
        )
    )


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query vector."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("norm2").alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cv"),
        F.col("norm2").alias("cn"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("cand_id") != F.col("query_id")
    ).select("query_id", "cand_id", _cos("qv", "qn", "cv", "cn").alias("cos"))
    return _topk(scored)


@functools.lru_cache(maxsize=None)
def _planes(dims: int) -> np.ndarray:
    """dims × (tables·planes) ±1 hyperplane matrix: component d of plane
    p in table t is +1 when md5(f"{t}:{p}|{d}")'s leading nibble is ≥ 8.
    Built once per worker and width (hashlib, no in-query md5: 4M
    in-query md5 calls were the measured ann_lsh hot spot)."""
    return np.array(
        [
            [
                1
                if int(hashlib.md5(f"{t}:{p}|{d}".encode()).hexdigest()[0], 16) >= 8
                else -1
                for t in range(LSH_TABLES)
                for p in range(LSH_PLANES)
            ]
            for d in range(dims)
        ],
        dtype=np.int64,
    )


def _bucket_ids(qs: pd.Series) -> pd.Series:
    """All LSH-table buckets in ONE vectorized matmul per Arrow batch:
    X(batch×dims) @ planes → sign bits → per-table bucket ints.  (The
    expression-tree form — 32 interpreted higher-order folds over
    literal arrays — was the measured cold-start hot spot.)"""
    X = np.stack(qs.to_numpy())  # batch × dims
    bits = (X @ _planes(X.shape[1])) > 0  # batch × (tables·planes)
    bits = bits.reshape(len(X), LSH_TABLES, LSH_PLANES)
    weights = 1 << np.arange(LSH_PLANES, dtype=np.int64)
    return pd.Series(list((bits * weights).sum(axis=2).astype("int32")))


def _buckets(emb: DataFrame) -> DataFrame:
    """``emb`` with one (tbl, bucket) row per vector and LSH table.  An
    empty table sends no batch, so its plan and schema stay those of a
    non-empty one."""
    from pyspark.sql import types as T

    buckets = F.pandas_udf(_bucket_ids, T.ArrayType(T.IntegerType()))
    return emb.select("*", F.posexplode(buckets("q")).alias("tbl", "bucket"))


IVF_CELLS = 16
IVF_NPROBE = 4


def _ivf_centroids(emb: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic coarse centroids: the IVF_CELLS vectors with the
    smallest md5(vec_id) — a seedless random sample, and the init of the
    k-means fit (_kmeans_fit).  Returns (quantized int64 cells × dims,
    norm²) — INTEGER centroids so cell assignment is engine-portable (the
    DuckDB oracle re-derives identical assignments)."""
    rows = (
        emb.select("vec_id", "q", "norm2")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(IVF_CELLS)
        .collect()
    )
    M = np.array([r.q for r in rows], dtype=np.int64)
    n2 = np.array([r.norm2 for r in rows], dtype=np.int64)
    return M, n2


def _cells_udf(M: np.ndarray, cn2: np.ndarray, nprobe: int):
    """Top-nprobe nearest centroids per vector, one matmul per batch.

    Portability contract (shared with the ann_ivf DuckDB oracle): dots
    are EXACT int64 (≤ dims·quant² = 1.28e8 ≪ 2^53), and the similarity
    double is computed as double(dot) / sqrt(double(nx)·double(nc)) —
    each step individually IEEE-rounded, so both engines produce the
    bit-identical double and therefore the identical stable argsort
    (ties broken by centroid index)."""
    from pyspark.sql import types as T

    Mt = M.T.copy()
    cn2d = cn2.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(qs: pd.Series) -> pd.Series:
        X = np.stack(qs.to_numpy()).astype(np.int64)
        dots = (X @ Mt).astype(np.float64)  # exact ints → exact doubles
        nx = (X * X).sum(axis=1).astype(np.float64)
        sims = dots / np.sqrt(nx[:, None] * cn2d[None, :])
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(top.astype("int32")))

    return cells


def _assign_cells(emb: DataFrame, M: np.ndarray, cn2: np.ndarray) -> DataFrame:
    """Nearest-centroid assignment under the portable sim contract."""
    return emb.select(
        "vec_id", "q", "norm2",
        F.element_at(_cells_udf(M, cn2, 1)("q"), 1).alias("cell"),
    )


def ivf_topk(spark: SparkSession, sf_dir: str, fit: str = "sample") -> DataFrame:
    """IVF (inverted-file) ANN: corpus vectors live in their single
    nearest-centroid cell; queries probe their IVF_NPROBE nearest cells;
    exact cosine re-rank inside the probed cells.

    ``fit``: 'sample' = deterministic md5-sample centroids (the registered
    oracle-checked form); 'kmeans' = the distributed integer-exact Lloyd's
    fit (_kmeans_fit) — the real-scale choice, same search path.

    Scale shape: centroids are a driver-side constant broadcast into the
    assignment UDF (one matmul per Arrow batch), the corpus is scanned
    once, and the only shuffle is the cell-equality join against the
    broadcast query probes — candidates ≈ nprobe/cells of the corpus."""
    emb = _emb(spark, sf_dir)
    if fit == "kmeans":
        M, cn2 = _kmeans_fit(emb)
    else:
        M, cn2 = _ivf_centroids(emb)
    corpus = _assign_cells(emb, M, cn2).select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cv"),
        F.col("norm2").alias("cn"),
        "cell",
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("norm2").alias("qn"),
            F.explode(_cells_udf(M, cn2, IVF_NPROBE)("q")).alias("cell"),
        )
    )
    scored = (
        corpus.alias("c")
        .join(
            F.broadcast(queries.alias("p")),
            (F.col("c.cell") == F.col("p.cell"))
            & (F.col("cand_id") != F.col("query_id")),
        )
        .select(
            "query_id", "cand_id", _cos("qv", "qn", "cv", "cn").alias("cos")
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    return _topk(scored)


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table bucketed ANN: candidates = union over tables of
    same-bucket rows, exact cosine re-rank within candidates."""
    # all table buckets in ONE pass over one scan (an 8-way union re-read
    # the parquet 8× — measured), posexploded to (tbl, bucket) rows
    tabbed = _buckets(_emb(spark, sf_dir))
    probe_buckets = F.array(
        F.col("bucket"),
        *(
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(LSH_PLANES if MULTIPROBE_RADIUS else 0)
        ),
    )
    queries = (
        tabbed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("norm2").alias("qn"),
            F.col("tbl").alias("qt"),
            F.explode(probe_buckets).alias("qb"),
        )
    )
    corpus = tabbed.select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cv"),
        F.col("norm2").alias("cn"),
        F.col("tbl").alias("ct"),
        F.col("bucket").alias("cb"),
    )
    scored = (
        corpus.join(
            F.broadcast(queries),
            (F.col("ct") == F.col("qt")) & (F.col("cb") == F.col("qb"))
            & (F.col("cand_id") != F.col("query_id")),
        )
        .select("query_id", "cand_id", "qv", "cv", "qn", "cn")
        .dropDuplicates(["query_id", "cand_id"])  # union of tables
        .select(
            "query_id", "cand_id", _cos("qv", "qn", "cv", "cn").alias("cos")
        )
    )
    return _topk(scored)


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, cosine ≥ COS_NUM/COS_DEN decided in EXACT
    integer arithmetic: dot > 0 and dot²·COS_DEN² ≥ COS_NUM²·na·nb (no
    float in the predicate).  Candidate pairs are restricted to
    same-(table, bucket) random-hyperplane LSH collisions (union over the
    8 tables).  Deterministic-approximate: pairs never colliding in any
    table are missed — recall vs the all-pairs twin
    (tests/dedup_reference.py) is pinned in pytest, and the DuckDB oracle
    re-derives the identical buckets, so the driver hash is still exact.

    Scale shape: one matmul per Arrow batch for all table buckets, one
    groupBy(tbl, bucket) shuffle with the hot-bucket cap
    (drop_stats('embedding_neardup')), in-array pair fan-out, then two
    hash joins on vec_id to fetch vectors — NEVER an O(n²) self-join."""
    emb = _emb(spark, sf_dir)
    pairs = (
        _capped_groups(
            _buckets(emb).groupBy("tbl", "bucket").agg(
                F.sort_array(F.collect_list("vec_id")).alias("ids")
            ),
            "embedding_neardup",
        )
        .select(F.explode(_pair_combos("ids")).alias("p"))
        .select(
            F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b")
        )
        .distinct()
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("norm2").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("norm2").alias("nb"),
    )
    return (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("dot", _dot("qa", "qb"))
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * (COS_DEN * COS_DEN)
                >= F.lit(COS_NUM * COS_NUM) * F.col("na") * F.col("nb")
            )
        )
        .select("vec_a", "vec_b")
    )


KMEANS_ITERS = 2


def _kmeans_fit(emb: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """KMEANS_ITERS distributed Lloyd's iterations with INTEGER-EXACT
    centroid updates over IVF_CELLS cells.

    Engine-portable: assignment uses the exact-int-dot / IEEE-double-sim
    contract, and each new centroid dimension is the member mean
    (_int_mean) — so centroids stay int64 vectors and DuckDB reproduces
    every round bit-for-bit (no float accumulation, no rounding-mode
    divergence).  Per round: one matmul-per-batch assignment pass + one
    (cell, dim) aggregation; only the cells×dims centroid table
    (driver-side constant) is collected.  Empty cells keep their previous
    centroid."""
    M, cn2 = _ivf_centroids(emb)  # deterministic md5-sample init
    # fewer vectors than IVF_CELLS (incl. an empty table): fit over what
    # exists — M may have fewer rows; callers size output to len(M)
    if M.ndim != 2 or len(M) == 0:
        return np.zeros((0, 1), dtype=np.int64), np.zeros(0, np.int64)
    for _ in range(KMEANS_ITERS):
        means = (
            _assign_cells(emb, M, cn2)
            .select("cell", F.posexplode("q").alias("d", "x"))
            .groupBy("cell", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
            .select("cell", "d", _int_mean("s", "c").alias("v"))
            .collect()  # cells × dims rows — centroid-table-sized
        )
        M = M.copy()
        for r in means:
            M[r["cell"], r["d"]] = r["v"]  # posexplode pos is 0-based
        cn2 = (M * M).sum(axis=1)
    return M, cn2


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted IVF centroids + final member counts (oracle-checked: the
    DuckDB twin unrolls the identical rounds as a CTE chain).  The
    centroid vector is emitted as a canonical CSV string — array-value
    stringification differs between engines, csv doesn't."""
    emb = _emb(spark, sf_dir)
    M, cn2 = _kmeans_fit(emb)
    if len(M) == 0:  # empty embeddings table
        return spark.createDataFrame(
            [], "cell int, centroid_csv string, norm2 long, n_members long"
        )
    final = (
        _assign_cells(emb, M, cn2)
        .groupBy("cell")
        .agg(F.count("*").alias("n_members"))
        .collect()
    )
    counts = {r["cell"]: r["n_members"] for r in final}
    rows = [
        (
            int(cell),
            ",".join(str(int(x)) for x in M[cell]),
            int(cn2[cell]),
            int(counts.get(cell, 0)),
        )
        for cell in range(len(M))  # may be < IVF_CELLS on small tables
    ]
    return spark.createDataFrame(
        rows, "cell int, centroid_csv string, norm2 long, n_members long"
    )


# --- SemDeDup-style semantic pruning ----------------------------------------

PRUNE_BOTTOM_X1000 = 200  # prune the least-prototypical 20% per label


def semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning: score each vector by cosine to its LABEL
    centroid, prune the least-central 20% per label (the SemDeDup /
    SSL-prototypes data-pruning signal).

    Fully distributed: the per-(label, dim) integer-mean aggregation is one
    shuffle over n·dims rows (linear), centroids broadcast back, and the
    per-label rank is one window.  Centroid means and similarities follow
    the module's integer-exact contract — so the DuckDB twin matches
    bit-for-bit.

    Scale note: the rank window sorts each label's rows on one reducer —
    fine while labels are balanced; for billion-row labels replace the
    rank with a distributed similarity-threshold cut (quantile of cos_r6
    per label), same output contract.
    """
    e = _emb(spark, sf_dir)
    cent = (
        e.select("label", F.posexplode("q").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        .select("label", "d", _int_mean("s", "c").alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "v"))),
                lambda sv: sv.getField("v"),
            ).alias("cv")
        )
        .select("label", "cv", _dot("cv", "cv").alias("cn"))
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(_cos("q", "norm2", "cv", "cn"), 6).alias("cos_r6"),
    )
    w = W.partitionBy("label").orderBy(F.desc("cos_r6"), "vec_id")
    return scored.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.count("*").over(W.partitionBy("label")).alias("_n"),
    ).select(
        "vec_id",
        "label",
        "cos_r6",
        "rank",
        F.expr(
            f"rank > (_n * (1000 - {PRUNE_BOTTOM_X1000})) div 1000"
        ).alias("pruned"),
    )


SEMANTIC_PRUNE_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, label, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS norm2
  FROM q
), sums AS (
  SELECT label, d, SUM(x) AS s, COUNT(*) AS c FROM (
    SELECT label, generate_subscripts(qv, 1) AS d, unnest(qv) AS x FROM n)
  GROUP BY label, d
), cent AS (
  SELECT label,
         list(CASE WHEN s >= 0 THEN (2 * s + c) // (2 * c)
                   ELSE -(((-2 * s) + c) // (2 * c)) END ORDER BY d) AS cv
  FROM sums GROUP BY label
), centn AS (
  SELECT label, cv,
         CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cn
  FROM cent
), sims AS (
  SELECT v.vec_id, v.label,
         round(CAST(list_dot_product(
                 list_transform(v.qv, x -> CAST(x AS DOUBLE)),
                 list_transform(c.cv, x -> CAST(x AS DOUBLE)))
               AS DOUBLE)
               / sqrt(CAST(v.norm2 AS DOUBLE) * CAST(c.cn AS DOUBLE)), 6)
           AS cos_r6
  FROM n v JOIN centn c USING (label)
), rk AS (
  SELECT vec_id, label, cos_r6,
         row_number() OVER (PARTITION BY label
                            ORDER BY cos_r6 DESC, vec_id) AS rank,
         COUNT(*) OVER (PARTITION BY label) AS nl
  FROM sims
)
SELECT vec_id, label, cos_r6, rank,
       rank > (nl * (1000 - {PRUNE_BOTTOM_X1000})) // 1000 AS pruned
FROM rk
"""
