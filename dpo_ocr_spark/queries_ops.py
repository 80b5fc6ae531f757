"""Query+oracle registrations for the training-data ops (ops/*).

Shared determinism contracts:
- shingles: word-3-grams of whitespace-collapsed lowercase text, distinct,
  short texts yield one clipped shingle (slice semantics identical);
- minhash_i = min over shingles of int64(md5("i|" || shingle)[:15 hex]);
- embedding quantization: int64(round(double(x) * 1000)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries import _NORM_SQL, register
from .ops import dedup as D
from .ops import similarity as S
from .ops import textstats as TS
from .ops.dedup import LSH_BANDS, MINHASH_K
from .ops.textstats import STOPWORDS, SUBWORD_REGEX

# --- shared oracle fragments -------------------------------------------------

_WS_CTE = f"""
ws AS (
  SELECT doc_id,
         regexp_split_to_array(
           {_NORM_SQL}, ' ') AS w
  FROM documents
)
"""

_SH_CTE = _WS_CTE + r""",
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(w)-2, 1)),
                  i -> array_to_string(w[i:i+2], ' '))) AS shingle
    FROM ws) t
)
"""

_MD5INT = "CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"

# one md5 per shingle, k universal-hash derivations (see ops/dedup.py)
_MH_BASE = "(" + _MD5INT.format(expr="shingle") + " % 2147483647)"
_MH_COLS = ", ".join(
    f"MIN(({_MH_BASE} * {2 * i + 3} + {i * 7 + 1}) % 2147483647) AS mh_{i}"
    for i in range(MINHASH_K)
)
_MH_CTE = _SH_CTE + f""",
mh AS (
  SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id
)
"""

_R = MINHASH_K // LSH_BANDS
_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band, md5("
    + " || '-' || ".join(
        f"CAST(mh_{b * _R + j} AS VARCHAR)" for j in range(_R)
    )
    + ") AS bucket FROM mh"
    for b in range(LSH_BANDS)
)

_Q_CTE = """
q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS norm2
  FROM q
)
"""

# shared LSH bucket derivation (ann_lsh + embedding_neardup oracles): the
# md5-derived ±1 hyperplanes, integer sign bits (quantized dot > 0 —
# exact) re-derived in DuckDB from first principles.
_LSH_BUCKETS_CTE = f"""
dims AS (SELECT len(embedding) AS nd FROM embeddings LIMIT 1),
planes AS (
  SELECT rt.range AS t, rp.range AS p,
         list_transform(range(CAST((SELECT nd FROM dims) AS BIGINT)),
           d -> CASE WHEN substring(md5(CAST(rt.range AS VARCHAR) || ':' ||
                       CAST(rp.range AS VARCHAR) || '|' ||
                       CAST(d AS VARCHAR)), 1, 1)
                   IN ('8','9','a','b','c','d','e','f')
                THEN 1 ELSE -1 END) AS signs
  FROM range({S.LSH_TABLES}) rt, range({S.LSH_PLANES}) rp
),
bits AS (
  SELECT n.vec_id, pl.t, pl.p,
         CASE WHEN CAST(list_dot_product(
                list_transform(n.qv, x -> CAST(x AS DOUBLE)),
                list_transform(pl.signs, x -> CAST(x AS DOUBLE)))
              AS BIGINT) > 0 THEN 1 ELSE 0 END AS bit
  FROM n CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id, t AS tbl,
         CAST(SUM(bit * (1 << p)) AS INT) AS bucket
  FROM bits GROUP BY vec_id, t
)"""

_STOP_EN = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


def _lang_scores_sql() -> str:
    parts = []
    for lang in sorted(STOPWORDS):
        lst = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
        parts.append(
            f"len(list_intersect(list_distinct(regexp_split_to_array("
            f"lower(text), '[ \\t\\n\\x0b\\f\\r]+')), {lst})) AS s_{lang}"
        )
    return ", ".join(parts)


# --- textstats ----------------------------------------------------------------

register(
    "token_counts",
    f"""
SELECT doc_id,
       len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_words,
       len(regexp_extract_all(text, '{SUBWORD_REGEX}')) AS n_subwords,
       length(text) AS n_chars
FROM documents
""",
)(TS.token_counts)

register(
    "quality_scores",
    f"""
SELECT doc_id,
       len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_words,
       CAST(floor(length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0b\\f\\r]+', '', 'g'))
                  * 1000 / length(text)) AS BIGINT) AS punct_ratio_x1000,
       CAST(floor(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
                  w -> list_contains({_STOP_EN}, w)))
                  * 1000 / len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')))
            AS BIGINT) AS stopword_ratio_x1000,
       (length(text) >= 100 AND
        len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
            w -> list_contains({_STOP_EN}, w))) * 1000
          / len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) >= 10) AS keep
FROM documents
""",
)(TS.quality_scores)

_LANGS_DESC = sorted(STOPWORDS)

register(
    "language_id",
    f"""
WITH s AS (
  SELECT doc_id, lang AS labeled_lang, {_lang_scores_sql()} FROM documents
)
SELECT doc_id, labeled_lang,
       greatest({', '.join('s_' + l for l in _LANGS_DESC)}) AS best_score,
       CASE {' '.join(
           f"WHEN greatest({', '.join('s_' + x for x in _LANGS_DESC)}) > 0 "
           f"AND s_{l} = greatest("
           + ', '.join('s_' + x for x in _LANGS_DESC)
           + f") THEN '{l}'" for l in _LANGS_DESC)}
       ELSE 'und' END AS pred_lang
FROM s
""",
)(TS.language_id)

register(
    "fingerprints",
    f"""
SELECT doc_id,
       md5({_NORM_SQL}) AS fp_md5,
       {_MD5INT.format(expr=_NORM_SQL)} AS fp_int
FROM documents
""",
)(TS.fingerprints)

register(
    "host_stats",
    """
WITH h AS (
  SELECT 'host-' || CASE WHEN doc_id % 10 = 0 THEN 'hot'
              ELSE CAST(doc_id % 20 AS VARCHAR) END || '.example.org' AS host
  FROM documents
),
t AS (SELECT COUNT(*) AS total FROM documents)
SELECT host, COUNT(*) AS n_docs,
       CAST(floor(COUNT(*) * 10000 / t.total) AS BIGINT) AS share_bp,
       COUNT(*) * 20 > t.total AS salt_candidate
FROM h, t GROUP BY host, t.total
""",
)(lambda spark, sf: TS.host_stats(spark, sf).drop("n_bytes"))

_PRED_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN greatest({', '.join('s_' + x for x in _LANGS_DESC)}) > 0 "
        f"AND s_{l} = greatest("
        + ", ".join("s_" + x for x in _LANGS_DESC)
        + f") THEN '{l}'"
        for l in _LANGS_DESC
    )
    + " ELSE 'und' END"
)

_VERDICT_CASE = """CASE WHEN NOT is_keeper THEN 'dup'
            WHEN n_chars < 100 THEN 'short'
            WHEN swr < 10 THEN 'low_stopword'
            WHEN pred_lang != labeled_lang THEN 'lang_mismatch'
            ELSE 'keep' END"""

CURATION_VERDICT_ORACLE = f"""
WITH k AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (
           PARTITION BY md5({_NORM_SQL})
         ) AS is_keeper,
         length(text) AS n_chars,
         CAST(floor(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
                    w -> list_contains({_STOP_EN}, w))) * 1000
                    / len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')))
              AS BIGINT) AS swr,
         lang AS labeled_lang,
         {_lang_scores_sql()}
  FROM documents
),
p AS (
  SELECT doc_id, is_keeper, n_chars, swr, labeled_lang,
         {_PRED_LANG_CASE} AS pred_lang
  FROM k
)
SELECT doc_id,
       {_VERDICT_CASE} AS verdict,
       ({_VERDICT_CASE}) = 'keep' AS keep
FROM p
"""

register("curation_verdict", CURATION_VERDICT_ORACLE)(TS.curation_verdict)

_RATE_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}"
    for lang, r in sorted(TS.SAMPLE_RATES_X1000.items())
) + f" ELSE {TS.SAMPLE_DEFAULT_X1000} END"

register(
    "stratified_sample",
    f"""
SELECT doc_id, lang,
       {_MD5INT.format(expr="CAST(doc_id AS VARCHAR)")} % 1000
         AS sample_bucket
FROM documents
WHERE {_MD5INT.format(expr="CAST(doc_id AS VARCHAR)")} % 1000 < {_RATE_CASE}
""",
)(TS.stratified_sample)

register(
    "shard_packing",
    f"""
SELECT doc_id, lang,
       len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens,
       CAST(floor(COALESCE(SUM(len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')))
              OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {TS.SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id
FROM documents
""",
)(TS.shard_packing)

# --- dedup ---------------------------------------------------------------------

register(
    "exact_dedup",
    f"""
SELECT md5({_NORM_SQL}) AS fp,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
""",
)(D.exact_dedup)

register(
    "ngram_jaccard",
    f"""
WITH {_SH_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
-- stop-shingle cap mirrored from the engine (ops/dedup.py MAX_GROUP):
-- shingles with document frequency > cap are excluded from intersections
shc AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {D.MAX_GROUP})
),
inter AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc c ON a.shingle = c.shingle AND a.doc_id < c.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       sa.n + sb.n - n_inter AS n_union,
       CAST(floor(n_inter * 1000 / (sa.n + sb.n - n_inter)) AS BIGINT)
         AS jaccard_x1000
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(floor(n_inter * 1000 / (sa.n + sb.n - n_inter)) AS BIGINT) >= 100
""",
)(lambda spark, sf: D.ngram_jaccard_pairs(spark, sf, threshold_x1000=100))

register(
    "minhash_signatures",
    f"WITH {_MH_CTE} SELECT * FROM mh",
)(D.minhash_signatures)

register(
    "minhash_lsh_pairs",
    f"""
WITH {_MH_CTE},
b AS (
{_BANDS_SQL}
),
-- hot-bucket cap mirrored from the engine (ops/dedup.py MAX_GROUP)
bc AS (
  SELECT b.* FROM b
  JOIN (SELECT band, bucket FROM b GROUP BY band, bucket
        HAVING COUNT(*) <= {D.MAX_GROUP}) ok USING (band, bucket)
)
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
FROM bc a JOIN bc c
  ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
""",
)(D.minhash_lsh_pairs)

# embedding_neardup is the LSH-BUCKETED scale path (the registered query):
# candidates = same-(table, bucket) collisions with the hot-bucket cap,
# decided by the exact integer cosine gate.  Deterministic-approximate —
# the DuckDB oracle re-derives the identical buckets so the hash stays
# exact; recall vs the all-pairs twin (tests/dedup_reference.py) is
# pinned in tests/test_ops.py.
register(
    "embedding_neardup",
    f"""
WITH {_Q_CTE},
{_LSH_BUCKETS_CTE},
ok AS (
  SELECT tbl, bucket FROM buckets GROUP BY tbl, bucket
  HAVING COUNT(*) <= {D.MAX_GROUP}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM buckets a
  JOIN ok ON ok.tbl = a.tbl AND ok.bucket = a.bucket
  JOIN buckets c ON c.tbl = a.tbl AND c.bucket = a.bucket
                AND a.vec_id < c.vec_id
)
SELECT vec_a, vec_b
FROM pairs
JOIN n na ON na.vec_id = vec_a
JOIN n nb ON nb.vec_id = vec_b
WHERE CAST(list_dot_product(list_transform(na.qv, x -> CAST(x AS DOUBLE)),
                            list_transform(nb.qv, x -> CAST(x AS DOUBLE)))
           AS BIGINT) > 0
  AND CAST(list_dot_product(list_transform(na.qv, x -> CAST(x AS DOUBLE)),
                            list_transform(nb.qv, x -> CAST(x AS DOUBLE)))
           AS BIGINT)
      * CAST(list_dot_product(list_transform(na.qv, x -> CAST(x AS DOUBLE)),
                              list_transform(nb.qv, x -> CAST(x AS DOUBLE)))
             AS BIGINT) * 25
      >= 4 * na.norm2 * nb.norm2
""",
)(S.embedding_neardup_lsh)

# dedup_clusters: connected components over the near-dup pair graph.
# The min-label fixpoint is unique, so the Spark pointer-jumping loop and
# the DuckDB recursive reachability CTE provably agree row-for-row.
DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SH_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shc AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {D.MAX_GROUP})
),
inter AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc c ON a.shingle = c.shingle AND a.doc_id < c.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(floor(n_inter * 1000 / (sa.n + sb.n - n_inter)) AS BIGINT) >= 100
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION ALL
  SELECT doc_b, doc_a FROM prs
),
reach AS (
  SELECT doc_id AS doc, doc_id AS lab FROM documents
  UNION
  SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.lab
)
SELECT doc AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc
"""

register("dedup_clusters", DEDUP_CLUSTERS_ORACLE)(D.dedup_clusters)

# --- similarity search ----------------------------------------------------------

# kmeans_centroids: the distributed Lloyd's fit is oracle-checked by
# UNROLLING the identical rounds as a DuckDB CTE chain — possible because
# every round is engine-portable (exact int dots, IEEE double sims with
# cidx tie-break, integer round-half-away centroid updates keeping the
# centroids int64).


def _kmeans_oracle(iters: int) -> str:
    sim = (
        "CAST(list_dot_product(list_transform(v.qv, x -> CAST(x AS DOUBLE)),"
        " list_transform(c.cv, x -> CAST(x AS DOUBLE))) AS DOUBLE)"
        " / sqrt(CAST(v.norm2 AS DOUBLE) * CAST(c.cn AS DOUBLE))"
    )
    parts = [
        f"""cent0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cidx,
         qv AS cv, norm2 AS cn
  FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {S.IVF_CELLS}
)"""
    ]
    for r in range(iters + 1):  # one extra assignment under the final fit
        parts.append(
            f"""asg{r} AS (
  SELECT vec_id, cidx FROM (
    SELECT v.vec_id, c.cidx,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {sim} DESC, c.cidx ASC) AS rnk
    FROM n v CROSS JOIN cent{r} c) WHERE rnk = 1
)"""
        )
        if r == iters:
            break
        parts.append(
            f"""sums{r} AS (
  SELECT cidx, d, SUM(x) AS s, COUNT(*) AS c FROM (
    SELECT a.cidx, generate_subscripts(v.qv, 1) AS d, unnest(v.qv) AS x
    FROM asg{r} a JOIN n v USING (vec_id)) GROUP BY cidx, d
),
cent{r + 1} AS (
  SELECT p.cidx, COALESCE(nc.cv, p.cv) AS cv,
         CAST(list_sum(list_transform(COALESCE(nc.cv, p.cv), x -> x * x))
              AS BIGINT) AS cn
  FROM cent{r} p LEFT JOIN (
    SELECT cidx, list(CASE WHEN s >= 0 THEN (2 * s + c) // (2 * c)
                           ELSE -(((-2 * s) + c) // (2 * c)) END
                      ORDER BY d) AS cv
    FROM sums{r} GROUP BY cidx) nc USING (cidx)
)"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {_Q_CTE},
{ctes}
SELECT CAST(c.cidx AS INT) AS cell,
       array_to_string(c.cv, ',') AS centroid_csv,
       c.cn AS norm2,
       COALESCE(m.n, 0) AS n_members
FROM cent{iters} c LEFT JOIN (
  SELECT cidx, COUNT(*) AS n FROM asg{iters} GROUP BY cidx) m USING (cidx)
"""


register("kmeans_centroids", _kmeans_oracle(S.KMEANS_ITERS))(S.kmeans_centroids)


def _ivf_kmeans_oracle(iters: int) -> str:
    """ann_ivf search over the kmeans-fitted centroids — the kmeans CTE
    chain composed with the IVF search CTEs (cent := cent{iters})."""
    km = _kmeans_oracle(iters)
    ctes = km.split("WITH ", 1)[1].rsplit(f",\nasg{iters} AS", 1)[0]
    return f"""
WITH {ctes},
sims AS (
  SELECT v.vec_id, c.cidx,
         CAST(list_dot_product(
           list_transform(v.qv, x -> CAST(x AS DOUBLE)),
           list_transform(c.cv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         / sqrt(CAST(v.norm2 AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS sim
  FROM n v CROSS JOIN cent{iters} c
),
rc AS (
  SELECT vec_id, cidx,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cidx ASC) AS rnk
  FROM sims
),
corpus AS (SELECT vec_id AS cand_id, cidx AS cell FROM rc WHERE rnk = 1),
probes AS (
  SELECT vec_id AS query_id, cidx AS cell
  FROM rc WHERE rnk <= {S.IVF_NPROBE} AND vec_id < {S.N_QUERIES}
),
cand AS (
  SELECT DISTINCT p.query_id, c.cand_id
  FROM probes p JOIN corpus c ON c.cell = p.cell
  WHERE c.cand_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.cand_id,
         CAST(list_dot_product(
           list_transform(qr.qv, x -> CAST(x AS DOUBLE)),
           list_transform(cv.qv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         / sqrt(CAST(qr.norm2 AS DOUBLE) * CAST(cv.norm2 AS DOUBLE)) AS cos
  FROM cand
  JOIN n qr ON qr.vec_id = cand.query_id
  JOIN n cv ON cv.vec_id = cand.cand_id
),
ranked AS (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id ASC) AS rn
  FROM scored
)
SELECT query_id, cand_id, CAST(rn AS INT) AS rank,
       round(cos, 6) AS cos_r6
FROM ranked WHERE rn <= {S.TOP_K}
"""


# the kmeans-fitted search end-to-end, hash-checked: kmeans rounds AND the
# IVF probe/re-rank both re-derived in DuckDB
register(
    "ann_ivf_kmeans",
    _ivf_kmeans_oracle(S.KMEANS_ITERS),
)(lambda spark, sf: S.ivf_topk(spark, sf, fit="kmeans"))



register(
    "ann_brute_force",
    f"""
WITH {_Q_CTE},
scored AS (
  SELECT qr.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(list_dot_product(
           list_transform(qr.qv, x -> CAST(x AS DOUBLE)),
           list_transform(c.qv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         / sqrt(CAST(qr.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) AS cos
  FROM n qr JOIN n c ON c.vec_id != qr.vec_id
  WHERE qr.vec_id < {S.N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id ASC) AS rn
  FROM scored
)
SELECT query_id, cand_id, CAST(rn AS INT) AS rank,
       round(cos, 6) AS cos_r6
FROM ranked WHERE rn <= {S.TOP_K}
""",
)(S.brute_force_topk)

# ann_lsh is FULLY oracle-checked: the md5-derived ±1 hyperplanes, the
# integer sign bits (quantized dot > 0 — exact), the Hamming-1 probe XORs
# and the double re-rank (proven portable by ann_brute_force) are all
# re-derived in DuckDB from first principles.
_LSH_ORACLE = f"""
WITH {_Q_CTE},
{_LSH_BUCKETS_CTE},
probes AS (
  SELECT b.vec_id AS query_id, b.tbl, u.qb
  FROM buckets b,
       UNNEST([b.bucket{''.join(f', xor(b.bucket, {1 << i})' for i in range(S.LSH_PLANES))}]) AS u(qb)
  WHERE b.vec_id < {S.N_QUERIES}
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS cand_id
  FROM probes p JOIN buckets c ON c.tbl = p.tbl AND c.bucket = p.qb
  WHERE c.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.cand_id,
         CAST(list_dot_product(
           list_transform(qr.qv, x -> CAST(x AS DOUBLE)),
           list_transform(cv.qv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         / sqrt(CAST(qr.norm2 AS DOUBLE) * CAST(cv.norm2 AS DOUBLE)) AS cos
  FROM cand
  JOIN n qr ON qr.vec_id = cand.query_id
  JOIN n cv ON cv.vec_id = cand.cand_id
),
ranked AS (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id ASC) AS rn
  FROM scored
)
SELECT query_id, cand_id, CAST(rn AS INT) AS rank,
       round(cos, 6) AS cos_r6
FROM ranked WHERE rn <= {S.TOP_K}
"""

register("ann_lsh", _LSH_ORACLE)(S.lsh_topk)
# ann_ivf oracle: centroid sampling (md5 order), cell assignment and the
# probe ranking re-derived in SQL. Portable because the similarity double
# is double(exact-int dot) / sqrt(double(n_a)·double(n_b)) in BOTH engines
# (every intermediate ≤ 1.28e8 ≪ 2^53 → the doubles are bit-identical,
# so argmax/argsort agree; ties break on centroid index both sides).
_IVF_ORACLE = f"""
WITH {_Q_CTE},
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cidx,
         qv AS cv, norm2 AS cn
  FROM n
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {S.IVF_CELLS}
),
sims AS (
  SELECT v.vec_id, c.cidx,
         CAST(list_dot_product(
           list_transform(v.qv, x -> CAST(x AS DOUBLE)),
           list_transform(c.cv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         / sqrt(CAST(v.norm2 AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS sim
  FROM n v CROSS JOIN cent c
),
rc AS (
  SELECT vec_id, cidx,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cidx ASC) AS rnk
  FROM sims
),
corpus AS (SELECT vec_id AS cand_id, cidx AS cell FROM rc WHERE rnk = 1),
probes AS (
  SELECT vec_id AS query_id, cidx AS cell
  FROM rc WHERE rnk <= {S.IVF_NPROBE} AND vec_id < {S.N_QUERIES}
),
cand AS (
  SELECT DISTINCT p.query_id, c.cand_id
  FROM probes p JOIN corpus c ON c.cell = p.cell
  WHERE c.cand_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.cand_id,
         CAST(list_dot_product(
           list_transform(qr.qv, x -> CAST(x AS DOUBLE)),
           list_transform(cv.qv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         / sqrt(CAST(qr.norm2 AS DOUBLE) * CAST(cv.norm2 AS DOUBLE)) AS cos
  FROM cand
  JOIN n qr ON qr.vec_id = cand.query_id
  JOIN n cv ON cv.vec_id = cand.cand_id
),
ranked AS (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id ASC) AS rn
  FROM scored
)
SELECT query_id, cand_id, CAST(rn AS INT) AS rank,
       round(cos, 6) AS cos_r6
FROM ranked WHERE rn <= {S.TOP_K}
"""

register("ann_ivf", _IVF_ORACLE)(S.ivf_topk)

# simhash oracle: FNV-1a re-implemented in DuckDB HUGEINT arithmetic
# (the 64-bit wrap-around multiply runs mod 2^64 in 128-bit ints; xor
# only ever touches the low 8 bits so a BIGINT xor on h%256 is exact),
# then per-bit sign-majority over the word hashes.  BYTE-level: each
# code point is expanded to its UTF-8 bytes before the fold, matching
# the kernel's w.encode('utf-8') on non-ASCII corpora too.
_FNV_SQL = r"""
list_reduce(
  list_prepend(14695981039346656037::HUGEINT,
    flatten(list_transform(
      list_transform(range(1, length(word) + 1),
                     i -> ascii(substring(word, i, 1))::HUGEINT),
      c -> CASE
        WHEN c < 128 THEN [c]
        WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
        WHEN c < 65536 THEN [224 + c // 4096, 128 + (c // 64) % 64,
                             128 + c % 64]
        ELSE [240 + c // 262144, 128 + (c // 4096) % 64,
              128 + (c // 64) % 64, 128 + c % 64]
      END))),
  (a, b) -> ((a - (a % 256)
              + xor(CAST(a % 256 AS BIGINT), CAST(b AS BIGINT)))
             * 1099511628211::HUGEINT)
            % 18446744073709551616::HUGEINT)
"""

register(
    "simhash",
    rf"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                            x -> x != '')) AS word
  FROM documents
),
h AS (SELECT doc_id, {_FNV_SQL} AS hv FROM w),
bits AS (
  SELECT doc_id, r.range AS bit,
         CASE WHEN SUM(CASE WHEN (hv // CAST(power(2, r.range) AS HUGEINT))
                                 % 2 = 1
                            THEN 1 ELSE -1 END) > 0
              THEN 1 ELSE 0 END AS bv
  FROM h CROSS JOIN range(64) r
  GROUP BY doc_id, r.range
)
SELECT d.doc_id,
       CAST(COALESCE(SUM(CASE WHEN bit >= 32
              THEN bv * CAST(power(2, bit - 32) AS HUGEINT) END), 0) AS BIGINT)
         AS simhash_hi,
       CAST(COALESCE(SUM(CASE WHEN bit < 32
              THEN bv * CAST(power(2, bit) AS HUGEINT) END), 0) AS BIGINT)
         AS simhash_lo
FROM documents d LEFT JOIN bits USING (doc_id)
GROUP BY d.doc_id
""",
)(D.simhash)


# --- ExactSubstr-style repeated-substring spans (r4) -------------------------

_SUBSTR_K = D.SUBSTR_K
_SUBSTR_FP = _MD5INT.format(
    expr=f"array_to_string(w[i:i+{_SUBSTR_K - 1}], ' ')"
)

# shared CTE chain producing the maximal duplicate spans — BOTH substring
# oracles build on this one fragment (mirrors ops/dedup.substring_dup_spans
# being the single Spark-side implementation)
_SUBSTR_SPANS_CTES = f"""
{_WS_CTE},
g AS (
  SELECT doc_id, n_words, i, {_SUBSTR_FP} AS fp
  FROM (
    SELECT doc_id, w, len(w) AS n_words,
           unnest(generate_series(1, len(w) - {_SUBSTR_K} + 1)) AS i
    FROM ws WHERE len(w) >= {_SUBSTR_K}
  ) t
),
dup AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) >= 2),
fl AS (
  SELECT doc_id, n_words, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                   <= {_SUBSTR_K} THEN 0 ELSE 1 END AS new_span
  FROM (SELECT g.* FROM g JOIN dup USING (fp)) dp
),
sp AS (
  SELECT doc_id, n_words, i,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM fl
),
spans AS (
  SELECT doc_id, n_words, span_id,
         MIN(i) AS s, MAX(i) + {_SUBSTR_K} - 1 AS e
  FROM sp GROUP BY doc_id, n_words, span_id
)
"""

register(
    "substring_dedup",
    f"""
WITH {_SUBSTR_SPANS_CTES},
per_doc AS (
  SELECT doc_id, n_words, COUNT(*) AS n_dup_spans,
         SUM(e - s + 1) AS n_dup_tokens
  FROM spans GROUP BY doc_id, n_words
)
SELECT ws.doc_id, len(ws.w) AS n_words,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(p.n_dup_tokens, 0) * 1000 // len(ws.w) AS BIGINT)
         AS dup_per_mille
FROM ws LEFT JOIN per_doc p ON ws.doc_id = p.doc_id
""",
)(D.substring_dedup)


def _q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-level output of substring_dedup: the maximal duplicate
    token intervals [s, e] per document — the cut list a curation pass
    applies (remove-or-truncate per Lee et al.'s ExactSubstr cut step).
    Derives from the same ops/dedup.substring_dup_spans frame as the
    per-doc summary."""
    return D.substring_dup_spans(spark, sf_dir).select(
        "doc_id", "span_id",
        D.F.col("s").alias("span_start"),
        D.F.col("e").alias("span_end"),
    )


register(
    "substring_dedup_spans",
    f"""
WITH {_SUBSTR_SPANS_CTES}
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id, s AS span_start,
       CAST(e AS BIGINT) AS span_end
FROM spans
""",
)(_q_substring_spans)
