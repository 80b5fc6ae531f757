"""Query+oracle registrations for ops.events, ops.curation and the
round-2 similarity/streaming additions.

Widens the training-data-pipeline surface: as-of join, sessionization,
exact group quantiles, eval-set decontamination, Gopher repetition
signals, deterministic training order, SemDeDup-style semantic pruning,
integer-exact TF-IDF, watermarked windowed streaming aggregation.  All
carry full DuckDB oracles (integer/bool-exact outputs;
epoch-microsecond timestamps).
"""

from __future__ import annotations

from .ops import curation as C
from .ops import events as EV
from .ops.av import AUDIO_FEATURES_ORACLE, audio_features
from .ops.dedup import (
    BATCH_MOD,
    MAX_GROUP,
    cluster_representatives,
    incremental_dedup,
)
from .ops.events import GAP_S
from .ops.pixels import IMAGE_AUTOCROP_ORACLE, image_autocrop
from .ops.similarity import SEMANTIC_PRUNE_ORACLE, semantic_prune
from .ops.textstats import HOST_CAP, host_cap
from .queries import _NORM_SQL, _URL_SQL, register
from .queries_ops import (
    CURATION_VERDICT_ORACLE,
    DEDUP_CLUSTERS_ORACLE,
    _SH_CTE,
    _STOP_EN,
)
from .session import scratch_dir as _scratch_dir


def _q_streaming_window_counts(spark, sf_dir: str):
    """Watermarked 1h-window counts drained through a real stream (append
    mode: only watermark-finalized windows appear — the oracle re-derives
    the cutoff as window_end <= max(ts) - 1h)."""
    from .streaming.stream import stream_window_counts

    tmp = _scratch_dir("stream_ev_")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.mode(
        "overwrite"
    ).parquet(tmp + "/src")
    return stream_window_counts(
        spark, tmp + "/src", tmp + "/ckpt", tmp + "/sink"
    )


STREAM_WINDOW_ORACLE = """
WITH e AS (
  SELECT epoch_us(ts) AS t_us, event_type,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
), mx AS (
  SELECT max(t_us) AS m FROM e
), w AS (
  SELECT (t_us // 3600000000) * 3600000000 AS start_us, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(v) AS BIGINT) AS value_x100_sum
  FROM e GROUP BY 1, 2
)
SELECT start_us, event_type, n_events, value_x100_sum
FROM w, mx
WHERE start_us + 3600000000 <= m - 3600000000
"""

register("asof_join", EV.ASOF_ORACLE)(EV.asof_join)
register("sessionize", EV.SESSIONIZE_ORACLE)(EV.sessionize)
register("value_quantiles", EV.VALUE_QUANTILES_ORACLE)(EV.value_quantiles)
register("decontaminate", C.DECONTAMINATE_ORACLE)(C.decontaminate)
register("repetition_stats", C.REPETITION_ORACLE)(C.repetition_stats)
register("training_order", C.TRAINING_ORDER_ORACLE)(C.training_order)
register("semantic_prune", SEMANTIC_PRUNE_ORACLE)(semantic_prune)
register("tfidf_top_terms", C.TFIDF_ORACLE)(C.tfidf_top_terms)
register("lm_bigram_score", C.LM_BIGRAM_ORACLE)(C.lm_bigram_score)
register("domain_mix", C.DOMAIN_MIX_ORACLE)(C.domain_mix)
register("url_filter", C.URL_FILTER_ORACLE)(C.url_filter)
register("chunk_documents", C.CHUNK_ORACLE)(C.chunk_documents)
register(
    "streaming_window_counts",
    STREAM_WINDOW_ORACLE,
)(_q_streaming_window_counts)


def _q_streaming_interval_join(spark, sf_dir: str):
    """Stream-stream self interval join drained through a real stream.
    Single staged file → one micro-batch → inner join emits every match,
    so the plain SQL interval join is a FULL oracle."""
    from .streaming.stream import stream_interval_join

    tmp = _scratch_dir("stream_ij_")
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp + "/src")
    return stream_interval_join(
        spark, tmp + "/src", tmp + "/ckpt", tmp + "/sink"
    )


STREAM_INTERVAL_JOIN_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us, event_type FROM events
)
SELECT a.user_id,
       a.event_id AS src_event_id,
       b.event_id AS dst_event_id,
       a.t_us AS src_us,
       b.t_us AS dst_us,
       b.event_type AS dst_type
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND b.t_us > a.t_us
 AND b.t_us <= a.t_us + 600000000
"""

register(
    "streaming_interval_join",
    STREAM_INTERVAL_JOIN_ORACLE,
)(_q_streaming_interval_join)


# chain the curation_verdict oracle, then apply the training_order
# hash/rank contract over its keepers
CURATED_TRAINING_ORACLE = f"""
WITH verd AS ({CURATION_VERDICT_ORACLE}),
kept AS (SELECT doc_id FROM verd WHERE keep),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM kept
)
SELECT doc_id, h % {C.N_SHARDS} AS shard,
       row_number() OVER (PARTITION BY h % {C.N_SHARDS} ORDER BY h, doc_id)
         AS pos
FROM h
"""

register("curated_training_set", CURATED_TRAINING_ORACLE)(C.curated_training_set)


HOST_CAP_ORACLE = f"""
WITH pages AS (
  SELECT {_URL_SQL} AS url FROM documents
), h AS (
  SELECT url, regexp_extract(url, '^https://([^/]+)/', 1) AS host
  FROM pages
)
SELECT url, host,
       row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
         AS host_rank,
       row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
         <= {HOST_CAP} AS kept
FROM h
"""

register("host_cap", HOST_CAP_ORACLE)(host_cap)


INCREMENTAL_DEDUP_ORACLE = f"""
WITH {_SH_CTE},
fps AS (
  SELECT doc_id,
         md5({_NORM_SQL}) AS fp,
         doc_id % {BATCH_MOD} = 0 AS b
  FROM documents
), exact AS (
  SELECT DISTINCT f.doc_id FROM fps f
  WHERE f.b AND EXISTS (SELECT 1 FROM fps c WHERE NOT c.b AND c.fp = f.fp)
), corp_df AS (
  SELECT shingle, COUNT(*) AS df FROM sh WHERE doc_id % {BATCH_MOD} <> 0
  GROUP BY shingle
), inter AS (
  SELECT n.doc_id AS new_id, c.doc_id AS corp_id, COUNT(*) AS n_inter
  FROM sh n
  JOIN sh c ON n.shingle = c.shingle
  JOIN corp_df d ON d.shingle = n.shingle AND d.df <= {MAX_GROUP}
  WHERE n.doc_id % {BATCH_MOD} = 0 AND c.doc_id % {BATCH_MOD} <> 0
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), scored AS (
  SELECT new_id, corp_id,
         CAST(floor(n_inter * 1000 / (sn.n + sc.n - n_inter)) AS BIGINT)
           AS j
  FROM inter
  JOIN sizes sn ON sn.doc_id = new_id
  JOIN sizes sc ON sc.doc_id = corp_id
), best AS (
  SELECT new_id AS doc_id, corp_id AS best_match_id,
         j AS best_jaccard_x1000
  FROM (SELECT *, row_number() OVER (PARTITION BY new_id
                                     ORDER BY j DESC, corp_id) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT d.doc_id,
       e.doc_id IS NOT NULL AS exact_dup,
       coalesce(b.best_jaccard_x1000 >= 300, FALSE) AS near_dup,
       b.best_match_id, b.best_jaccard_x1000
FROM documents d
LEFT JOIN exact e ON e.doc_id = d.doc_id
LEFT JOIN best b ON b.doc_id = d.doc_id
WHERE d.doc_id % {BATCH_MOD} = 0
"""

register("incremental_dedup", INCREMENTAL_DEDUP_ORACLE)(incremental_dedup)

register("pii_scrub", C.PII_ORACLE)(C.pii_scrub)

register("props_extract", EV.PROPS_EXTRACT_ORACLE)(EV.props_extract)


def _q_streaming_sessionize(spark, sf_dir: str):
    """Stateful streaming sessionization drained availableNow: emits the
    gap-CLOSED sessions (batch sessionize minus each user's final open
    session — re-derived exactly by the oracle), read back from the
    durable sink.  The source is staged as ONE file so the drain is one
    micro-batch: the stream needs non-decreasing event time per user
    across micro-batches, which unordered part files would not give."""
    from .streaming.stream import stream_sessionize

    tmp = _scratch_dir("stream_sess_")
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp + "/src")
    return stream_sessionize(
        spark, tmp + "/src", tmp + "/ckpt", tmp + "/sink"
    )


STREAM_SESSIONIZE_ORACLE = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS t_us FROM events
), flagged AS (
  SELECT user_id, t_us,
         CASE WHEN lag(t_us) OVER w IS NULL
                   OR t_us - lag(t_us) OVER w > {GAP_S} * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us)
), sess AS (
  SELECT user_id, t_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), grouped AS (
  SELECT user_id, session_id,
         MIN(t_us) AS start_us, MAX(t_us) AS end_us,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, start_us, end_us, n_events
FROM (SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS last_sid
      FROM grouped)
WHERE session_id <> last_sid
"""

register(
    "streaming_sessionize",
    STREAM_SESSIONIZE_ORACLE,
)(_q_streaming_sessionize)

register("image_autocrop", IMAGE_AUTOCROP_ORACLE)(image_autocrop)
# same arithmetic oracle through the COMPRESSED codec paths: PNG is
# lossless; JPEG q92 4:2:0 quantization error never moves a border or
# gutter under the autocrop threshold (exhaustive over the id space)
register(
    "image_autocrop_png",
    IMAGE_AUTOCROP_ORACLE,
)(lambda spark, sf_dir: image_autocrop(spark, sf_dir, codec="png"))
register(
    "image_autocrop_jpeg",
    IMAGE_AUTOCROP_ORACLE,
)(lambda spark, sf_dir: image_autocrop(spark, sf_dir, codec="jpeg"))
# r4 codec additions through the same pixel pipeline + oracle: Adam7
# interlace is lossless; progressive decode is byte-identical to the
# baseline decode of the same image (pinned in tests/test_codecs.py)
register(
    "image_autocrop_png_adam7",
    IMAGE_AUTOCROP_ORACLE,
)(lambda spark, sf_dir: image_autocrop(spark, sf_dir, codec="png_adam7"))
register(
    "image_autocrop_jpeg_prog",
    IMAGE_AUTOCROP_ORACLE,
)(lambda spark, sf_dir: image_autocrop(spark, sf_dir, codec="jpeg_prog"))


CLUSTER_REPS_ORACLE = f"""
WITH cl AS ({DEDUP_CLUSTERS_ORACLE}),
q AS (
  SELECT doc_id,
         CAST(floor(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
                    w -> list_contains({_STOP_EN}, w))) * 1000
                    / len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')))
              AS BIGINT) AS quality_x1000
  FROM documents
), rk AS (
  SELECT c.doc_id, c.cluster_id, q.quality_x1000,
         first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
                                     ORDER BY q.quality_x1000 DESC,
                                              c.doc_id) AS rep_doc_id
  FROM cl c JOIN q USING (doc_id)
)
SELECT doc_id, cluster_id, quality_x1000, rep_doc_id,
       doc_id = rep_doc_id AS is_rep
FROM rk
"""

register("cluster_representatives", CLUSTER_REPS_ORACLE)(
    cluster_representatives
)

register("url_normalize", C.URL_NORMALIZE_ORACLE)(C.url_normalize)

register("unicode_normalize", C.UNICODE_NORMALIZE_ORACLE)(C.unicode_normalize)

register("cube_summary", EV.CUBE_SUMMARY_ORACLE)(EV.cube_summary)

# r5 late addition: a REAL container decode path (RIFF/WAVE PCM, pure
# stdlib/numpy — see ops/av.py header for the honest remaining boundary:
# compressed audio).  Designed-fixture exact oracle, BIGINT/INT-only
# outputs per the r5 type ban.

register("audio_features", AUDIO_FEATURES_ORACLE)(audio_features)
