"""Real pixel-space operators (SURVEY §2 I1, I3) over decoded images.

The container has no codec libraries (PIL / libjpeg / libpng), so the
engine implements REAL decode + geometry for the uncompressed binary-PPM
(P6) format — pure numpy, no codecs — and runs the reference's pixel
algorithms on actual arrays inside Arrow batches:

- I1 auto-trim borders: threshold border trim re-expressed from the
  reference's row/column-mean scan (autocrop:
  ``data_prep/NMAH_Ledgers/autocrop.py:22-55``);
- I3 page split: gutter detection as the widest all-white column run
  inside the content box.  The reference splits two-page scans at a
  FIXED midpoint — ``round(width/2)``, ``data_prep/NMAH_Ledgers/
  nmah_ledgers_1.py:27-34``; detecting the gutter valley instead is this
  engine's refinement of that step (robust to off-center bindings).

I2 micro-rotation (deskew) is not implemented: no registered query
rotates, and the synthetic pages are never skewed.

Compressed images decode through ``ops/codecs.py`` (PNG, and 8-bit
Huffman-coded baseline / progressive JPEG); ``decode_image`` sniffs the
magic bytes and hands PPM back to ``decode_ppm``, so every format meets
the geometry code as the same RGB array.  The registered queries build
per-doc images whose geometry is a pure function of doc_id, so the
DuckDB oracle re-derives the expected crop box / gutter arithmetically
while the engine does the full bytes → pixels → geometry work.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

WHITE = 250  # >= this row/col mean counts as blank (autocrop threshold)

# synthetic-image constants shared with the oracle (pure doc_id arithmetic)
IMG_H = 64
IMG_W = 96
GUTTER_W = 5


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6), 8-bit RGB."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """Parse binary PPM (P6) into an (h, w, 3) uint8 array — a real
    format decode (header tokenization incl. comments + raster reshape),
    just for an uncompressed format the sandbox can handle without codec
    libs."""
    if not data.startswith(b"P6"):
        raise ValueError("not a binary PPM")
    # tokenize header: magic, width, height, maxval; '#' starts a comment
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        tokens.append(data[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    raster = np.frombuffer(data, dtype=np.uint8, count=h * w * 3, offset=i)
    return raster.reshape(h, w, 3)


def _gray(img: np.ndarray) -> np.ndarray:
    return img.min(axis=2).astype(np.float64)


def autocrop_bounds(gray: np.ndarray) -> tuple[int, int, int, int]:
    """Inclusive content box (top, bottom, left, right) after trimming
    blank borders — rows/cols whose mean >= ``WHITE``.  All-blank image
    returns (-1, -1, -1, -1)."""
    rows = gray.mean(axis=1) < WHITE
    cols = gray.mean(axis=0) < WHITE
    if not rows.any():
        return (-1, -1, -1, -1)
    ys = np.flatnonzero(rows)
    xs = np.flatnonzero(cols)
    return (int(ys[0]), int(ys[-1]), int(xs[0]), int(xs[-1]))


def find_gutter(gray: np.ndarray, box: tuple[int, int, int, int]) -> int:
    """Center column of the widest all-blank column run strictly inside
    the content box — the two-page split point.  -1 when no blank run
    exists (single-block page)."""
    top, bottom, left, right = box
    if top < 0:
        return -1
    sub = gray[top : bottom + 1, left : right + 1]
    blank = sub.mean(axis=0) >= WHITE
    best_len, best_start, run_start = 0, -1, None
    for i, b in enumerate(blank.tolist() + [False]):
        if b and run_start is None:
            run_start = i
        elif not b and run_start is not None:
            if i - run_start > best_len:
                best_len, best_start = i - run_start, run_start
            run_start = None
    if best_len == 0:
        return -1
    return left + best_start + (best_len - 1) // 2


# --- synthetic geometry (pure doc_id arithmetic, mirrored in the oracle) ----

def _geometry(doc_id: int) -> tuple[int, int, int, int, int]:
    top = doc_id % 5 + 2
    bottom = doc_id % 4 + 2
    left = doc_id % 7 + 2
    right = doc_id % 6 + 2
    g0 = left + 10 + doc_id % 10  # first gutter column
    return top, bottom, left, right, g0


def synth_page(doc_id: int) -> np.ndarray:
    """White canvas, two black content blocks separated by a GUTTER_W-wide
    white gutter — borders and gutter position are doc_id arithmetic."""
    top, bottom, left, right, g0 = _geometry(doc_id)
    img = np.full((IMG_H, IMG_W, 3), 255, dtype=np.uint8)
    y0, y1 = top, IMG_H - 1 - bottom
    x0, x1 = left, IMG_W - 1 - right
    img[y0 : y1 + 1, x0 : x1 + 1] = 0
    img[:, g0 : g0 + GUTTER_W] = 255  # carve the gutter
    return img


def image_autocrop(
    spark: SparkSession, sf_dir: str, codec: str = "ppm"
) -> DataFrame:
    """I1+I3 through real pixels: synthesize an image per doc
    (deterministic geometry), ENCODE it in ``codec`` (ppm / png /
    png_adam7 / jpeg baseline / jpeg_prog progressive, JPEG at q92
    4:2:0), magic-sniff DECODE it back, trim blank borders, find the
    page-split gutter — all inside Arrow batches
    (mapInPandas), zero shuffles.  The oracle re-derives every output
    column as doc_id arithmetic; it is codec-independent because PNG is
    lossless and the JPEG q92 quantization error (≤10 at block edges)
    never moves a border/gutter under the WHITE=250 mean threshold
    (verified exhaustively for the 500-doc id space)."""
    from ..scale import ensure_parallelism

    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .codecs import (
            decode_image, encode_jpeg, encode_jpeg_progressive, encode_png,
        )

        encoders = {
            "ppm": lambda im: encode_ppm(im),
            "png": encode_png,
            "png_adam7": lambda im: encode_png(im, interlace=True),
            "jpeg": lambda im: encode_jpeg(im, 92, "420"),
            "jpeg_prog": lambda im: encode_jpeg_progressive(im, 92, "420"),
        }
        enc = encoders[codec]
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                payload = enc(synth_page(int(doc_id)))
                img = decode_image(payload)  # the real decode round-trip
                g = _gray(img)
                box = autocrop_bounds(g)
                gx = find_gutter(g, box)
                rows.append(
                    (int(doc_id), img.shape[1], img.shape[0], *box, gx)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height",
                    "top", "bottom", "left", "right", "gutter_x",
                ],
            )

    return docs.mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, top int, bottom int,"
            " left int, right int, gutter_x int"
        ),
    )


IMAGE_AUTOCROP_ORACLE = f"""
SELECT doc_id,
       {IMG_W} AS width, {IMG_H} AS height,
       CAST(doc_id % 5 + 2 AS INT) AS top,
       CAST({IMG_H} - 1 - (doc_id % 4 + 2) AS INT) AS bottom,
       CAST(doc_id % 7 + 2 AS INT) AS "left",
       CAST({IMG_W} - 1 - (doc_id % 6 + 2) AS INT) AS "right",
       CAST(doc_id % 7 + 2 + 10 + doc_id % 10 + ({GUTTER_W} - 1) // 2
            AS INT) AS gutter_x
FROM documents
"""
