"""Real audio decode path.

The package depends on no audio library (libsndfile/ffmpeg), but a REAL
container format is fully parseable with stdlib + numpy, so the engine
implements it instead of faking the modality:

- **WAV (RIFF/WAVE, PCM)**: proper chunk walk (unknown chunks skipped,
  odd-size pad bytes honored), PCM u8 / s16 / s24 / s32 little-endian,
  mono + multichannel.  Decode is pinned against the stdlib ``wave``
  module in tests/test_av.py.

What remains out of scope (and is rejected explicitly, not faked):
compressed audio (MP3/AAC/FLAC) — that needs entropy/transform stacks
that are real codec libraries, and a from-scratch reimplementation is
outside the reference's surface (the reference itself has no audio
operators; this exists for the brief's multimodal-pipeline
requirement).

The registered query follows the designed-fixture pattern of
ops/pixels.py: payloads are synthesized as a pure function of doc_id, so
the DuckDB oracle re-derives every output column arithmetically while
the engine does the full bytes → container walk → samples → features
work inside Arrow batches (mapInPandas, zero shuffles — the scan→decode
shape that scales linearly with input splits at 100 TB).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# WAV codec (RIFF/WAVE, PCM integer widths 1/2/3/4)
# ---------------------------------------------------------------------------


def encode_wav(frames: np.ndarray, rate: int, sampwidth: int) -> bytes:
    """PCM WAV encode.  ``frames`` is (n_frames, n_channels) CENTERED
    integers (u8 files store value+128 on disk, per the format)."""
    if frames.ndim == 1:
        frames = frames[:, None]
    n, ch = frames.shape
    block = ch * sampwidth
    if sampwidth == 1:
        raw = (frames.astype(np.int64) + 128).astype(np.uint8).tobytes()
    elif sampwidth == 2:
        raw = frames.astype("<i2").tobytes()
    elif sampwidth == 3:
        as32 = frames.astype("<i4").tobytes()
        b = np.frombuffer(as32, dtype=np.uint8).reshape(-1, 4)
        raw = b[:, :3].tobytes()  # little-endian: drop the high byte
    elif sampwidth == 4:
        raw = frames.astype("<i4").tobytes()
    else:
        raise ValueError(f"unsupported sampwidth {sampwidth}")
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * block, block, sampwidth * 8
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
        + (b"\x00" if len(raw) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """PCM WAV decode via a real RIFF chunk walk.  Returns
    ``(rate, n_channels, sampwidth, frames)`` with ``frames`` an
    (n_frames, n_channels) int32 array of CENTERED samples (u8 is
    unsigned-with-128-offset on disk and is re-centered here)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, 8 + struct.unpack("<I", data[4:8])[0]
    fmt = None
    raw = None
    while pos + 8 <= min(end, len(data)):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size % 2)  # odd chunks carry a pad byte
    if fmt is None or raw is None:
        raise ValueError("missing fmt /data chunk")
    audio_format, ch, rate, _byterate, _block, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"only PCM WAV supported (format {audio_format}; compressed "
            "audio needs codec libs not present in this environment)"
        )
    sampwidth = bits // 8
    if sampwidth == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
    elif sampwidth == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    elif sampwidth == 3:
        b = np.frombuffer(raw, dtype=np.uint8)
        b = b[: len(b) - len(b) % 3].reshape(-1, 3).astype(np.int32)
        x = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        x = np.where(x >= 1 << 23, x - (1 << 24), x)  # sign-extend
    elif sampwidth == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.int32)
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    n = len(x) // ch
    return rate, ch, sampwidth, x[: n * ch].reshape(n, ch)


# ---------------------------------------------------------------------------
# Designed audio fixture + feature query (oracle: pure doc_id arithmetic)
# ---------------------------------------------------------------------------
# Square wave, RATE Hz: half-period H = doc_id%20+5 samples, C =
# doc_id%30+2 full cycles (n_frames = 2*H*C), amplitude A = doc_id%100+10
# for the u8 width else doc_id%900+100, channels = doc_id%2+1 (channel 1
# carries the inverted signal), sampwidth cycling u8/s16/s24 by doc_id%3.
# Closed forms: duration_us = n_frames*125, peak = A, energy = sum(x^2)
# = n_frames*A^2 (|x| == A everywhere), zero_crossings = 2*C - 1.

RATE = 8000


def _audio_params(doc_id: int) -> tuple[int, int, int, int, int]:
    h = doc_id % 20 + 5
    c = doc_id % 30 + 2
    sw = (1, 2, 3)[doc_id % 3]
    a = doc_id % 100 + 10 if sw == 1 else doc_id % 900 + 100
    ch = doc_id % 2 + 1
    return h, c, a, sw, ch


def synth_wav(doc_id: int) -> bytes:
    h, c, a, sw, ch = _audio_params(doc_id)
    half = np.repeat(np.array([a, -a], dtype=np.int32), h)
    mono = np.tile(half, c)
    frames = mono[:, None] if ch == 1 else np.stack([mono, -mono], axis=1)
    return encode_wav(frames, RATE, sw)


def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio pipeline inside Arrow batches: synthesize a WAV per
    doc (designed geometry above), DECODE it back through the RIFF
    walker, compute integer-exact signal features on channel 0.  The
    oracle re-derives every column in closed form."""
    from ..scale import ensure_parallelism

    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                rate, ch, sw, frames = decode_wav(synth_wav(int(doc_id)))
                x = frames[:, 0].astype(np.int64)
                rows.append(
                    (
                        int(doc_id), rate, ch, sw, len(x),
                        len(x) * 1_000_000 // rate,
                        int(np.abs(x).max()),
                        int((x * x).sum()),
                        int(np.count_nonzero(x[1:] * x[:-1] < 0)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_channels", "sampwidth",
                    "n_frames", "duration_us", "peak", "energy",
                    "zero_crossings",
                ],
            )

    return docs.mapInPandas(
        run,
        schema=(
            "doc_id long, sample_rate int, n_channels int, sampwidth int,"
            " n_frames long, duration_us long, peak long, energy long,"
            " zero_crossings long"
        ),
    )


AUDIO_FEATURES_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         doc_id % 20 + 5 AS h,
         doc_id % 30 + 2 AS c,
         CASE WHEN doc_id % 3 = 0 THEN doc_id % 100 + 10
              ELSE doc_id % 900 + 100 END AS a,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END AS sw
  FROM documents
)
SELECT doc_id,
       CAST({RATE} AS INT) AS sample_rate,
       CAST(doc_id % 2 + 1 AS INT) AS n_channels,
       CAST(sw AS INT) AS sampwidth,
       CAST(2 * h * c AS BIGINT) AS n_frames,
       CAST(2 * h * c * 125 AS BIGINT) AS duration_us,
       CAST(a AS BIGINT) AS peak,
       CAST(2 * h * c * a * a AS BIGINT) AS energy,
       CAST(2 * c - 1 AS BIGINT) AS zero_crossings
FROM p
"""
