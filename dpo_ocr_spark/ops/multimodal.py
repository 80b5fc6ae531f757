"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Per the brief, image/audio/video are treated as opaque ``binary`` columns
with a typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched UDFs over ``mapInPandas``.  Real decodes
live next to the queries that run them: ops/codecs.py ``decode_image``
(PPM, PNG, 8-bit Huffman JPEG) and ops/av.py ``decode_wav`` /
``decode_avi`` (WAV audio, MJPEG-in-AVI video).  Compressed audio
(MP3/AAC/FLAC) and inter-frame video codecs (H.264/VP9) have no decoder
here.

The synthetic payload format (built from document text bytes) carries a
12-byte header: magic 'MM01' + uint32 width + uint32 height (big-endian),
then the body.  ``extract_media_meta`` parses the header inside Arrow
batches exactly like a real image decoder would parse JPEG/PNG headers.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

MAGIC = b"MM01"

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media column from document text bytes: width =
    n_chars % 640 + 16, height = doc_id % 480 + 16."""
    from ..scale import ensure_parallelism

    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, mtypes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = (text or "").encode("utf-8")
                w = len(body) % 640 + 16
                h = int(doc_id) % 480 + 16
                payloads.append(MAGIC + struct.pack(">II", w, h) + body)
                mtypes.append("image" if doc_id % 3 else "audio")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": mtypes,
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(gen, schema=MEDIA_SCHEMA)


def extract_media_meta(media: DataFrame) -> DataFrame:
    """Header parse inside Arrow batches (the real decoder's fast path)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, ns, ok = [], [], [], []
            for p in pdf["payload"]:
                b = bytes(p) if p is not None else b""
                ns.append(len(b))
                if len(b) >= 12 and b[:4] == MAGIC:
                    w, h = struct.unpack(">II", b[4:12])
                    ws.append(w)
                    hs.append(h)
                    ok.append(True)
                else:
                    ws.append(None)
                    hs.append(None)
                    ok.append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "n_bytes": ns,
                    "valid": ok,
                }
            )

    return media.mapInPandas(run, schema=META_SCHEMA)


THUMB_SIDE = 256  # resize_plan's target longest side, pixels


def resize_plan(media: DataFrame) -> DataFrame:
    """Resize planning (pure metadata math, JVM-side): target dims keeping
    aspect ratio — the shape a real thumbnailing stage would take."""
    meta = extract_media_meta(media)
    scale_num = F.lit(THUMB_SIDE)
    longest = F.greatest("width", "height")
    return meta.filter(F.col("valid")).select(
        "doc_id",
        "width",
        "height",
        F.floor(F.col("width") * scale_num / longest).cast("int").alias("target_w"),
        F.floor(F.col("height") * scale_num / longest).cast("int").alias("target_h"),
    )
