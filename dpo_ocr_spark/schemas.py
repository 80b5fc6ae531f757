"""Fixed StructTypes for every table the engine reads or writes.

Mirrors the reference's declared relational schemas (SURVEY.md §1):
- web_pages   — input_hint shape (BASELINE.json:15); replaces
  ``ocr_documents`` (reference database/database.sql:41-63) rekeyed by url.
- token       — replaces ``ocr_entries`` (database/database.sql:66-95): word
  text + confidence + quad bbox; the reference flattens the 4-vertex quad
  into 8 int columns, we keep an array<int> of the same 8 values in the
  same order (x0,y0,x1,y1,x2,y2,x3,y3).
- blocks are not a stored record: ``assemble.py`` builds them from token
  rows, as the reference builds ``ocr_blocks`` (database/database.sql:
  168-191) from word rows (block_identification.py:68).
- field       — replaces ``ocr_interpreted_blocks`` (database/database.sql:99-126),
  unique on (url, block_id, data_type) per the constraint at :115.
- lineage     — per-partition lineage rows (north_rule): partition id,
  input count, bytes, checkpoint watermark.

No runtime schema inference anywhere (reference exports restate schemas
verbatim — ML/google_vision/run_gvision_ocr.py:173-174).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style web pages (input_hint)
# ---------------------------------------------------------------------------
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Token (word-level record). Reference CSV schema:
# word_text,block,page,word,word_line,confidence,vertices_x_0..vertices_y_3
# (run_gvision_ocr.py:173-174); ids are the reference's running counters
# (run_gvision_ocr.py:179-181, 187, 283).  start/end are char offsets into
# the per-url extracted text (run_docai.py:84-93 text anchors).
# ---------------------------------------------------------------------------
TOKEN = T.StructType(
    [
        T.StructField("page", T.IntegerType(), False),
        T.StructField("block", T.IntegerType(), False),
        T.StructField("para", T.IntegerType(), False),
        T.StructField("word_line", T.IntegerType(), False),
        T.StructField("word", T.IntegerType(), False),
        T.StructField("word_text", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("bbox", T.ArrayType(T.IntegerType()), True),
        T.StructField("start", T.LongType(), True),
        T.StructField("end", T.LongType(), True),
    ]
)

# Extraction-stage output: one wide row per url (SURVEY.md §3.1 stage 6).
EXTRACT_RESULT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("payload_kind", T.StringType(), False),  # html | layout
        T.StructField("text", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(TOKEN), True),
    ]
)

# Interpreted field rows — ocr_interpreted_blocks analog.
FIELD = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("data_format", T.StringType(), True),
        T.StructField("interpreted_value", T.StringType(), True),
        T.StructField("verbatim_value", T.StringType(), True),
        T.StructField("data_source", T.StringType(), True),
        T.StructField("match_score", T.DoubleType(), True),
    ]
)

# Per-partition lineage row (north_rule): written alongside results so a
# failed partition range is resumable (anti-join on lineage).  num_buckets
# makes resume content-based: partition_id is the pure function
# pmod(hash(xxhash64(url)), num_buckets), so a resume run re-derives every
# page's partition from its url and anti-joins on completed ids —
# checkpoint_watermark is metrics-only, never a resume predicate.
LINEAGE = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_count", T.LongType(), False),
        T.StructField("input_bytes", T.LongType(), False),
        T.StructField("checkpoint_watermark", T.TimestampType(), True),
        T.StructField("num_buckets", T.IntegerType(), False),
    ]
)
