"""The extraction stage (the engine's S3 operator), Arrow-batched.

``extract_pages`` maps the input_hint frame (url, warc_ts, html, text, lang)
to one wide result row per url: extracted text + token records + block
records + size metrics — the Spark re-expression of the reference's
per-document emit fan-out (run_gvision_ocr.py:375-387 word INSERTs,
:261-269 block INSERTs, :166-168 fulltext) as a single ``mapInArrow``
producing every artifact at once (SURVEY.md §3.1 stage 6).

The per-batch result is assembled directly as pyarrow arrays — flat
token/block field columns + list offsets — instead of pandas object
columns of per-document tuple lists.  That skips both pandas conversions,
which profiling showed to be ~25% of the per-core round trip for the
nested ``tokens``/``blocks`` columns: object-dtype lists of tuples are
re-walked element-by-element by the pandas→Arrow converter, while
``ListArray.from_arrays`` over flat columns is a single O(n) build.
tests/test_extract.py checks the stage's rows against ``_extract_one``
applied row by row.

Scale notes:
- narrow transformation: no shuffle — decode pipelines directly over the
  (optionally salted, see ``scale.salted_repartition``) input partitions;
- payload dispatch sniffs the first bytes ('{' → layout JSON, '%PDF-' →
  PDF, else HTML), so mixed corpora need no per-kind job split;
- zero per-row Python at the Spark level: one Python invocation per Arrow
  batch, each batch byte-bounded (``TARGET_PAYLOAD_BYTES``);
- per-row error quarantine inside ``_extract_one``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type

from ..nogc import nogc_batches
from ..schemas import BLOCK, EXTRACT_RESULT, TOKEN
from .html import extract_html
from .layout import extract_layout

# Byte-bound on the payload decoded per emitted batch. The Spark-level
# knob (arrow.maxRecordsPerBatch) counts ROWS, but page payloads span
# ~1 KB (link farms) to ~1 MB (article pages) — a row cap alone is
# either IPC-bound on small docs or memory-unsafe on big ones. We keep
# the row cap high (session.ARROW_MAX_RECORDS) and bound MEMORY here by
# slicing incoming batches (zero-copy) to ~16 MB of payload each, which
# caps the nested token/block output per batch regardless of doc size.
TARGET_PAYLOAD_BYTES = 16 << 20

_TOKEN_TYPE = to_arrow_type(TOKEN)
_BLOCK_TYPE = to_arrow_type(BLOCK)


def _extract_one(payload: bytes | None, pre_text: str | None):
    """(kind, text, tokens, blocks, n_bytes). Pure function of the row.

    Error containment: a malformed payload yields a quarantine row
    (payload_kind='error', text=None) instead of failing the task — at
    10¹² rows a single bad page must never abort the job; quarantined
    urls stay visible for reprocessing (they appear in lineage counts
    but produce no text/tokens).
    """
    if payload is None or len(payload) == 0:
        # pre-extracted text passthrough (input_hint allows text w/o html)
        text = pre_text or ""
        return "text", text, [], [], 0
    try:
        if payload[:1] == b"{":
            text, tokens, blocks = extract_layout(payload)
            return "layout", text, tokens, blocks, len(payload)
        if payload[:5] == b"%PDF-":
            from .pdf import extract_pdf

            text, tokens, blocks = extract_pdf(payload)
            return "pdf", text, tokens, blocks, len(payload)
        text, tokens, blocks = extract_html(payload)
        return "html", text, tokens, blocks, len(payload)
    except Exception:
        return "error", None, [], [], len(payload)


def _byte_bounded(
    it: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in it:
        payload_bytes = batch.column("html").nbytes
        if payload_bytes <= TARGET_PAYLOAD_BYTES or batch.num_rows < 2:
            yield batch
            continue
        n_slices = -(-payload_bytes // TARGET_PAYLOAD_BYTES)
        step = max(1, -(-batch.num_rows // n_slices))
        for lo in range(0, batch.num_rows, step):
            yield batch.slice(lo, step)


def _nested_list_array(
    offsets: list[int], cols: list[list], struct_type: pa.StructType
) -> pa.ListArray:
    """Flat field columns + per-doc offsets → list<struct<...>> array."""
    n = offsets[-1]
    struct = pa.StructArray.from_arrays(
        [
            pa.array(c if n else [], type=f.type)
            for c, f in zip(cols, struct_type)
        ],
        fields=list(struct_type),
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


@nogc_batches
def _extract_batches(
    it: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in _byte_bounded(it):
        htmls = batch.column("html").to_pylist()
        pres = batch.column("text").to_pylist()
        kinds: list[str] = []
        texts: list[str | None] = []
        nbytes: list[int] = []
        ntoks: list[int] = []
        tok_off = [0]
        blk_off = [0]
        # per-doc zip(*tokens) + extend is the measured-fastest transpose
        # (83 ms/corpus vs 459 ms for one zip(*all_rows) — zip with 270k
        # iterator arguments round-robins them per output column — and
        # 101 ms for per-column list comprehensions)
        tok_cols: list[list] = [[] for _ in range(10)]
        blk_cols: list[list] = [[] for _ in range(4)]
        for payload, pre in zip(htmls, pres):
            kind, text, tokens, blocks, nb = _extract_one(payload, pre)
            kinds.append(kind)
            texts.append(text)
            nbytes.append(nb)
            ntoks.append(len(tokens))
            tok_off.append(tok_off[-1] + len(tokens))
            blk_off.append(blk_off[-1] + len(blocks))
            if tokens:
                for col, vals in zip(tok_cols, zip(*tokens)):
                    col.extend(vals)
            if blocks:
                for col, vals in zip(blk_cols, zip(*blocks)):
                    col.extend(vals)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("warc_ts"),
                batch.column("lang"),
                pa.array(kinds, pa.string()),
                pa.array(texts, pa.string()),
                pa.array(nbytes, pa.int64()),
                pa.array(ntoks, pa.int32()),
                _nested_list_array(tok_off, tok_cols, _TOKEN_TYPE),
                _nested_list_array(blk_off, blk_cols, _BLOCK_TYPE),
            ],
            names=EXTRACT_RESULT.names,
        )


def extract_pages(web_pages: DataFrame) -> DataFrame:
    """web_pages (WEB_PAGES schema) → EXTRACT_RESULT frame, no shuffle."""
    return web_pages.mapInArrow(_extract_batches, schema=EXTRACT_RESULT)
