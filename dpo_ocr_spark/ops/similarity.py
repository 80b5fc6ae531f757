"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_force_topk``: exact cosine top-k per query — the correctness
  baseline.  Cosine is computed from EXACT integer dot/norms (quantized),
  then a single IEEE double division+sqrt of identical integers — so Spark
  and DuckDB produce bit-identical doubles and identical orderings.
  Per-query window argmax (never a global sort).
- ``lsh_topk``: the scale path — random-hyperplane sign buckets
  (hyperplanes derived from md5, engine-free determinism), candidates
  restricted to same-bucket rows, then exact re-rank.  At 10¹² rows the
  bucket join replaces the all-pairs crossJoin; recall is tested in pytest
  against the brute-force baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .dedup import _QUANT

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


def embedding_dims(sf_dir: str) -> int | None:
    """Embedding dimensionality from the embeddings table's first row,
    read with pyarrow (no Spark job: sizing the hyperplane matrix is a
    driver-side metadata question, guide §5).  None for an empty table,
    whose row count the parquet footers give; any read error raises."""
    import pyarrow.dataset as ds

    table = ds.dataset(f"{sf_dir}/embeddings.parquet", format="parquet")
    if table.count_rows() == 0:
        return None
    return len(table.head(1, columns=["embedding"]).column(0)[0].as_py())


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
    norm2 = F.aggregate(
        F.zip_with(q, q, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select("vec_id", "label", q.alias("q"), norm2.alias("norm2"))


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


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
    ).select(
        "query_id",
        "cand_id",
        (
            _dot("qv", "cv").cast("double")
            / F.sqrt(F.col("qn").cast("double") * F.col("cn").cast("double"))
        ).alias("cos"),
    )
    return _topk(scored)


def _plane_signs(table: int, plane: int, dims: int) -> list[int]:
    """Deterministic ±1 plane components: sign = md5(f"{t}:{p}|{d}")
    leading nibble ≥ 8.  Computed ONCE driver-side (hashlib) and shipped
    as an array literal sized to the actual embedding dim — the runtime
    expression is pure arithmetic (4M in-query md5 calls were the
    measured ann_lsh hot spot)."""
    import hashlib

    return [
        1
        if int(hashlib.md5(f"{table}:{plane}|{d}".encode()).hexdigest()[0], 16) >= 8
        else -1
        for d in range(dims)
    ]


def _all_buckets_udf(dims: int | None):
    """All LSH-table buckets in ONE vectorized matmul per Arrow batch:
    X(batch×dims) @ M(dims×(tables·planes)) → sign bits → per-table
    bucket ints.  (The expression-tree form — 32 interpreted higher-order
    folds over literal arrays — was the measured cold-start hot spot.)

    ``dims`` is None for an empty table (``embedding_dims``): the planes
    get zero width, no batch ever reaches the UDF, and the caller's plan
    and schema stay those of a non-empty table."""
    from pyspark.sql import types as T

    M = np.array(
        [
            _plane_signs(t, p, dims or 0)
            for t in range(LSH_TABLES)
            for p in range(LSH_PLANES)
        ],
        dtype=np.int64,
    ).T  # dims × (tables·planes)
    weights = (1 << np.arange(LSH_PLANES, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(qs: pd.Series) -> pd.Series:
        X = np.stack(qs.to_numpy())  # batch × dims
        bits = (X @ M) > 0  # batch × (tables·planes)
        bits = bits.reshape(len(X), LSH_TABLES, LSH_PLANES)
        vals = (bits * weights).sum(axis=2).astype("int32")  # batch × tables
        return pd.Series(list(vals))

    return buckets


IVF_CELLS = 16
IVF_NPROBE = 4


def _ivf_centroids(emb: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic coarse centroids: the IVF_CELLS vectors with the
    smallest md5(vec_id) — a seedless random sample (at real scale,
    replace with a k-means fit on the same md5-sample; the search path
    below is unchanged). Returns (quantized int64 cells × dims, norm²)
    — INTEGER centroids so cell assignment is engine-portable (the
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
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cv"),
        F.col("norm2").alias("cn"),
        F.element_at(_cells_udf(M, cn2, 1)("q"), 1).alias("cell"),
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
            "query_id",
            "cand_id",
            (
                _dot("qv", "cv").cast("double")
                / F.sqrt(
                    F.col("qn").cast("double") * F.col("cn").cast("double")
                )
            ).alias("cos"),
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    return _topk(scored)


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table bucketed ANN: candidates = union over tables of
    same-bucket rows, exact cosine re-rank within candidates."""
    emb = _emb(spark, sf_dir)
    dims = embedding_dims(sf_dir)
    # all table buckets in ONE pass over one scan (an 8-way union re-read
    # the parquet 8× — measured), then posexplode to (tbl, bucket) rows
    tabbed = emb.select(
        "vec_id", "q", "norm2",
        F.posexplode(_all_buckets_udf(dims)("q")).alias("tbl", "bucket"),
    )
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
            "query_id",
            "cand_id",
            (
                _dot("qv", "cv").cast("double")
                / F.sqrt(
                    F.col("qn").cast("double") * F.col("cn").cast("double")
                )
            ).alias("cos"),
        )
    )
    return _topk(scored)


KMEANS_ITERS = 2


def _assign_cells(emb: DataFrame, M: np.ndarray, cn2: np.ndarray) -> DataFrame:
    """Nearest-centroid assignment under the portable sim contract."""
    return emb.select(
        "vec_id", "q", "norm2",
        F.element_at(_cells_udf(M, cn2, 1)("q"), 1).alias("cell"),
    )


def _kmeans_fit(emb: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """KMEANS_ITERS distributed Lloyd's iterations with INTEGER-EXACT
    centroid updates over IVF_CELLS cells.

    The fit the ann_ivf docstring promises at real scale, kept
    engine-portable: assignment uses the established exact-int-dot /
    IEEE-double-sim contract, and each new centroid dimension is the
    member mean rounded half-away-from-zero in PURE INTEGER arithmetic
    (s≥0: (2s+c)//(2c), else the negated positive form) — so centroids
    stay int64 vectors and DuckDB reproduces every round bit-for-bit
    (no float accumulation, no rounding-mode divergence).  Per round:
    one matmul-per-batch assignment pass + one (cell, dim) aggregation;
    only the cells×dims centroid table (driver-side constant) is collected.
    Empty cells keep their previous centroid."""
    M, cn2 = _ivf_centroids(emb)  # deterministic md5-sample init
    # fewer vectors than IVF_CELLS (incl. an empty table): fit over what
    # exists — M may have fewer rows; callers size output to len(M)
    if M.ndim != 2 or len(M) == 0:
        import numpy as _np

        return _np.zeros((0, 1), dtype=_np.int64), _np.zeros(0, _np.int64)
    for _ in range(KMEANS_ITERS):
        sums = (
            _assign_cells(emb, M, cn2)
            .select("cell", F.posexplode("q").alias("d", "x"))
            .groupBy("cell", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
            .collect()  # cells × dims rows — centroid-table-sized
        )
        newM = M.copy()
        for r in sums:
            s, c = int(r["s"]), int(r["c"])
            if s >= 0:
                v = (2 * s + c) // (2 * c)
            else:
                v = -((-2 * s + c) // (2 * c))
            newM[r["cell"], r["d"]] = v  # posexplode pos is 0-based
        M = newM
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
    per-label rank is one window.  Centroid means use the _kmeans_fit
    integer round-half-away contract, similarities the exact-int-dot /
    IEEE-double contract — so the DuckDB twin matches bit-for-bit.

    Scale note: the rank window sorts each label's rows on one reducer —
    fine while labels are balanced; for billion-row labels replace the
    rank with a distributed similarity-threshold cut (quantile of cos_r6
    per label), same output contract.
    """
    e = _emb(spark, sf_dir)

    # per-(label, dim) integer mean, rounded half-away-from-zero
    mean_v = F.when(
        F.col("s") >= 0, F.expr("(2 * s + c) div (2 * c)")
    ).otherwise(-F.expr("((-2 * s) + c) div (2 * c)"))
    cent = (
        e.select("label", F.posexplode("q").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        .select("label", "d", mean_v.alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "v"))),
                lambda sv: sv.getField("v"),
            ).alias("cv")
        )
        .select(
            "label",
            "cv",
            F.aggregate(
                F.zip_with("cv", "cv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("cn"),
        )
    )
    sim = _dot("q", "cv").cast("double") / F.sqrt(
        F.col("norm2").cast("double") * F.col("cn").cast("double")
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "vec_id", "label", F.round(sim, 6).alias("cos_r6")
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
