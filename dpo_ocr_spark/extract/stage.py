"""The extraction stage (the engine's S3 operator), Arrow-batched.

``extract_pages`` maps the input_hint frame (url, warc_ts, html, text, lang)
to one wide result row per url: extracted text + token records + size
metrics — the Spark re-expression of the reference's per-document emit
fan-out (run_gvision_ocr.py:375-387 word INSERTs, :166-168 fulltext) as a
single ``mapInArrow`` (SURVEY.md §3.1 stage 6).  Block records are not
emitted here: ``assemble.py`` builds them from the token rows, the way the
reference builds blocks from word rows (block_identification.py:68).

The per-batch result is assembled directly as pyarrow arrays — flat
token field columns + list offsets — instead of pandas object columns of
per-document tuple lists.  That skips both pandas conversions, which
profiling showed to be ~25% of the per-core round trip for the nested
``tokens`` column: object-dtype lists of tuples are re-walked
element-by-element by the pandas→Arrow converter, while
``ListArray.from_arrays`` over flat columns is a single O(n) build.
tests/test_extract.py checks the stage's rows against ``_extract_one``
applied row by row.

Scale notes:
- narrow transformation: no shuffle — decode pipelines directly over the
  (optionally salted, see ``scale.salted_repartition``) input partitions;
- payload dispatch sniffs the first bytes ('{' → layout JSON, '%PDF-' →
  PDF, else HTML), so mixed corpora need no per-kind job split;
- zero per-row Python at the Spark level: one Python invocation per Arrow
  batch; the engine bounds each batch by rows and bytes before it reaches
  the Python worker (``session.get_spark``);
- per-row error quarantine inside ``_extract_one``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type

from ..nogc import nogc_batches
from ..schemas import EXTRACT_RESULT, TOKEN
from .html import extract_html
from .layout import extract_layout

_TOKEN_TYPE = to_arrow_type(TOKEN)


def _extract_one(payload: bytes | None, pre_text: str | None):
    """(kind, text, tokens, n_bytes). Pure function of the row.

    Error containment: a malformed payload yields a quarantine row
    (payload_kind='error', text=None) instead of failing the task — at
    10¹² rows a single bad page must never abort the job; quarantined
    urls stay visible for reprocessing (they appear in lineage counts
    but produce no text/tokens).
    """
    if payload is None or len(payload) == 0:
        # pre-extracted text passthrough (input_hint allows text w/o html)
        text = pre_text or ""
        return "text", text, [], 0
    try:
        if payload[:1] == b"{":
            text, tokens = extract_layout(payload)
            return "layout", text, tokens, len(payload)
        if payload[:5] == b"%PDF-":
            from .pdf import extract_pdf

            text, tokens = extract_pdf(payload)
            return "pdf", text, tokens, len(payload)
        text, tokens = extract_html(payload)
        return "html", text, tokens, len(payload)
    except Exception:
        return "error", None, [], len(payload)


def _nested_list_array(offsets: list[int], cols: list[list]) -> pa.ListArray:
    """Flat token field columns + per-doc offsets → list<TOKEN> array."""
    n = offsets[-1]
    struct = pa.StructArray.from_arrays(
        [
            pa.array(c if n else [], type=f.type)
            for c, f in zip(cols, _TOKEN_TYPE)
        ],
        fields=list(_TOKEN_TYPE),
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


@nogc_batches
def _extract_batches(
    it: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in it:
        htmls = batch.column("html").to_pylist()
        pres = batch.column("text").to_pylist()
        kinds: list[str] = []
        texts: list[str | None] = []
        nbytes: list[int] = []
        ntoks: list[int] = []
        tok_off = [0]
        # per-doc zip(*tokens) + extend is the measured-fastest transpose
        # (83 ms/corpus vs 459 ms for one zip(*all_rows) — zip with 270k
        # iterator arguments round-robins them per output column — and
        # 101 ms for per-column list comprehensions)
        tok_cols: list[list] = [[] for _ in range(10)]
        for payload, pre in zip(htmls, pres):
            kind, text, tokens, nb = _extract_one(payload, pre)
            kinds.append(kind)
            texts.append(text)
            nbytes.append(nb)
            ntoks.append(len(tokens))
            tok_off.append(tok_off[-1] + len(tokens))
            if tokens:
                for col, vals in zip(tok_cols, zip(*tokens)):
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
                _nested_list_array(tok_off, tok_cols),
            ],
            names=EXTRACT_RESULT.names,
        )


def extract_pages(web_pages: DataFrame) -> DataFrame:
    """web_pages (WEB_PAGES schema) → EXTRACT_RESULT frame, no shuffle."""
    return web_pages.mapInArrow(_extract_batches, schema=EXTRACT_RESULT)
