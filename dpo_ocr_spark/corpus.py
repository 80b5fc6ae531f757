"""Deterministic synthetic web-page corpus (the engine's canonical input).

Builds the input_hint table ``(url, warc_ts, html:binary, text, lang)``
(BASELINE.json:15) from the driver's ``documents`` parquet
(doc_id, text, lang, source, n_chars) — no external data, seedless and
fully deterministic so the same row is produced on every run and on every
engine (the DuckDB oracle re-derives the expected output with plain SQL).

Payload synthesis mirrors the two payload families of the reference:
- **HTML rows** (80%): the document text is split into up to 3 paragraphs
  and wrapped in a boilerplate-rich page (nav / aside / share-bar / footer,
  all high link-density) — the extraction stage must strip the boilerplate
  and recover the paragraphs byte-identically.
- **layout rows** (20%, ``doc_id % 5 == 4``): a JSON token stream shaped
  like a Document-AI response (reference ML/google_documentai/results/*.json:
  flat ``text`` + tokens carrying startIndex/endIndex spans + bbox +
  confidence) standing in for image/PDF OCR payloads.

Determinism contract (shared with the DuckDB oracle — keep in sync with
__spark_entry__.oracle_sql):
- url     = 'https://host-' || (doc_id%10==0 ? 'hot' : doc_id%20)
            || '.example.org/doc/' || lpad(doc_id, 6, '0')
  (~10% rows share the hot host to exercise salting, FIXTURES.md §1)
- warc_ts = timestamp '2024-01-01 00:00:00' + doc_id seconds
- paragraph split: words = split(text,' '); n<3 → 1 para, else cut at
  ceil(n/3) and ceil(2n/3); extracted text = paras joined by '\\n'.
"""

from __future__ import annotations

import html as _html
import json
import math
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from .nogc import nogc_batches
from .schemas import WEB_PAGES

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_HTML_TEMPLATE = (
    "<html><head><title>Doc {doc_id}</title>"
    '<link rel="canonical" href="{canon}">{robots}'
    "<style>body{{margin:0;font:14px sans-serif}}</style>"
    "<script>var page={doc_id};trackPageView(page);</script></head>\n"
    "<body>\n"
    "<header><h1>Document {doc_id}</h1></header>\n"
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/archive">Archive'
    '</a></li><li><a href="/about">About</a></li></ul></nav>\n'
    '<div class="content">\n{paras}\n</div>\n'
    '<aside><a href="/ad1">Sponsored link one</a>'
    '<a href="/ad2">Sponsored link two</a></aside>\n'
    '<div class="share"><a href="#">Share</a> <a href="#">Tweet</a> '
    '<a href="#">Pin</a></div>\n'
    '<footer><p><a href="/privacy">Privacy</a> &middot; '
    '<a href="/terms">Terms</a> &middot; &copy; Example Corp</p></footer>\n'
    "</body></html>"
)


def page_url(doc_id: int) -> str:
    host = "hot" if doc_id % 10 == 0 else str(doc_id % 20)
    return f"https://host-{host}.example.org/doc/{doc_id:06d}"


def split_paragraphs(text: str) -> list[str]:
    """Deterministic ≤3-way paragraph split on word boundaries.

    Mirrors the oracle SQL exactly: cut points ceil(n/3), ceil(2n/3).
    """
    if text is None:
        return [""]
    words = text.split(" ")
    n = len(words)
    if n < 3:
        return [text]
    c1 = math.ceil(n / 3)
    c2 = math.ceil(2 * n / 3)
    return [" ".join(words[0:c1]), " ".join(words[c1:c2]), " ".join(words[c2:n])]


def expected_text(text: str) -> str:
    """The byte-exact extraction target for a document's raw text."""
    return "\n".join(split_paragraphs(text))


def token_confidence(word: str, idx: int) -> float:
    """Deterministic pseudo-confidence straddling the 0.70/0.85 gates
    (FIXTURES.md §2); reproducible in SQL: ((len*37 + idx*13) % 101)/100.
    """
    return ((len(word) * 37 + idx * 13) % 101) / 100.0


def is_layout_doc(doc_id: int) -> bool:
    return doc_id % 5 == 4


def is_noindex_doc(doc_id: int) -> bool:
    """Deterministic robots-noindex marking (~6% of html pages): the
    curation-relevant head metadata the meta extractor must surface."""
    return doc_id % 17 == 3


def canonical_id(doc_id: int) -> int:
    """Deterministic canonical-duplicate marking: every 23rd-ish html
    page (doc_id % 23 == 7) declares ANOTHER page as its canonical —
    the syndicated/tracking-variant shape canonical-dedup exists for."""
    return doc_id - 7 if doc_id % 23 == 7 else doc_id


def _page_string(doc_id: int, text: str) -> str:
    """The page markup shared by every HTML renderer (head metadata:
    title, canonical link — self-referential except for the marked
    duplicate variants — and the deterministic robots tag)."""
    paras = "\n".join(
        f"<p>{_html.escape(p)}</p>" for p in split_paragraphs(text)
    )
    robots = (
        '<meta name="robots" content="noindex,nofollow">'
        if is_noindex_doc(doc_id)
        else ""
    )
    return _HTML_TEMPLATE.format(
        doc_id=doc_id,
        paras=paras,
        canon=page_url(canonical_id(doc_id)),
        robots=robots,
    )


def render_html(doc_id: int, text: str) -> bytes:
    return _page_string(doc_id, text).encode("utf-8")


def render_html_cs(doc_id: int, text: str) -> bytes:
    """The same page bytes in a deterministic charset mix — the crawl
    reality the extractor's sniffing ladder (extract/charset.py) must
    absorb while still producing byte-identical TEXT:

    - doc_id % 3 == 0 → plain UTF-8, no declaration (the strict-UTF-8
      ladder rung);
    - doc_id % 3 == 1 → windows-1252 with a ``<meta charset>`` tag (the
      declared-legacy-charset rung); pages whose text cp1252 cannot
      encode fall through to the UTF-16 form (deterministic in content);
    - doc_id % 3 == 2 → UTF-16 with BOM (the BOM rung).

    The oracle is unchanged — charsets change bytes, never text."""
    page = _page_string(doc_id, text)
    mode = doc_id % 3
    if mode == 1:
        tagged = page.replace(
            "<head>", '<head><meta charset="windows-1252">', 1
        )
        try:
            return tagged.encode("cp1252")
        except UnicodeEncodeError:
            pass  # non-latin text: fall through to UTF-16
    if mode in (1, 2):
        return page.encode("utf-16")  # BOM + LE
    return page.encode("utf-8")


def _pdf_string(w: str) -> str:
    """PDF string literal for a word: ASCII-printable words as escaped
    ``(…)`` literals, everything else as UTF-16BE hex ``<FEFF…>``."""
    if all(32 <= ord(c) < 127 for c in w):
        return "(" + w.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)") + ")"
    return "<FEFF" + w.encode("utf-16-be").hex().upper() + ">"


def render_pdf(doc_id: int, text: str) -> bytes:
    """The document as a minimal-but-valid PDF 1.4: one page, Helvetica,
    one explicitly-positioned ``Tm``+``Tj`` show per word (empty words
    included as positional placeholders so consecutive spaces survive),
    paragraph k on baseline y = 720 − 24k.  Even doc_ids carry a
    FlateDecode content stream, odd ones raw — both reader paths are
    exercised by the gate.  The extractor must recover
    ``expected_text(text)`` byte-identically (same contract as HTML)."""
    lines = ["BT", "/F1 12 Tf"]
    for li, para in enumerate(split_paragraphs(text)):
        y = 720 - 24 * li
        x = 72
        for w in para.split(" "):
            lines.append(f"1 0 0 1 {x} {y} Tm {_pdf_string(w)} Tj")
            x += 8 * len(w) + 8
    lines.append("ET")
    content = "\n".join(lines).encode("latin-1", "backslashreplace")
    flate = doc_id % 2 == 0
    if flate:
        content = zlib.compress(content, 9)
        filt = " /Filter /FlateDecode"
    else:
        filt = ""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        f"<< /Length {len(content)}{filt} >>".encode("ascii")
        + b"\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode("ascii") + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode("ascii")
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode("ascii")
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode("ascii")
    return bytes(out)


def render_layout(doc_id: int, text: str) -> bytes:
    """Document-AI-shaped JSON payload: flat ``text`` + per-word spans.

    Shape per reference ML/google_documentai/run_docai.py:84-93 (textAnchor
    textSegments into document.text) and the sample result JSON: one block
    per paragraph, one paragraph per block, words with [start,end) spans,
    quad bbox, confidence.
    """
    paras = split_paragraphs(text)
    full = "\n".join(paras)
    blocks = []
    offset = 0
    widx = 0
    for b, para in enumerate(paras):
        words = []
        y = b * 24
        x = 0
        for w in para.split(" ") if para else []:
            # sequential scan: words appear in order, so find from cursor
            # (same monotone-cursor idiom as the reference's word→line scan,
            # run_gvision_ocr.py:304-309)
            start = full.find(w, offset)
            end = start + len(w)
            offset = end
            width = 8 * max(len(w), 1)
            words.append(
                {
                    "text": w,
                    "conf": token_confidence(w, widx),
                    "span": [start, end],
                    "bbox": [x, y, x + width, y, x + width, y + 18, x, y + 18],
                }
            )
            x += width + 8
            widx += 1
        offset += 1  # skip the '\n' separator
        blocks.append({"block": b, "words": words})
    doc = {"kind": "layout", "doc_id": doc_id, "text": full, "pages": [{"page": 1, "blocks": blocks}]}
    return json.dumps(doc, separators=(",", ":")).encode("utf-8")


_EPOCH_US = int(EPOCH.timestamp()) * 1_000_000


@nogc_batches
def _gen_batches_arrow(it, charset_mix: bool = False, pdf_mix: bool = False):
    """mapInArrow generator — hot path (skips both pandas conversions;
    same rows as the pandas reference in tests/test_entry.py, pinned by
    test_corpus_gen_equivalence).
    ``charset_mix`` swaps the HTML renderer for the deterministic
    UTF-8/cp1252/UTF-16 mix (render_html_cs); ``pdf_mix`` swaps it for
    the PDF renderer (render_pdf — Flate/raw streams by doc parity);
    layout JSON rows stay JSON in every mix."""
    import pyarrow as pa

    html_of = render_html
    if charset_mix:
        html_of = render_html_cs
    elif pdf_mix:
        html_of = render_pdf
    for batch in it:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        n = len(ids)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([page_url(i) for i in ids], pa.string()),
                pa.array(
                    [_EPOCH_US + i * 1_000_000 for i in ids],
                    pa.timestamp("us", tz="UTC"),
                ),
                pa.array(
                    [
                        render_layout(i, t) if is_layout_doc(i) else html_of(i, t)
                        for i, t in zip(ids, texts)
                    ],
                    pa.binary(),
                ),
                pa.array([None] * n, pa.string()),
                batch.column("lang"),
            ],
            names=WEB_PAGES.names,
        )


def build_web_pages(
    spark: SparkSession,
    sf_dir: str,
    partitions: int | None = None,
    charset_mix: bool = False,
    pdf_mix: bool = False,
) -> DataFrame:
    """documents parquet → input_hint-shaped web_pages frame.

    ``partitions``: repartition the scan BEFORE the generation UDF — the
    fixture parquet is a single row-group, so without an explicit exchange
    every downstream Python stage would run as ONE task (measured:
    scaling efficiency 0.4 → fixed by salting ahead of the first Python
    stage; at real scale this is the salted repartition of the Iceberg
    scan, see scale.salted_repartition).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    if partitions:
        from pyspark.sql import functions as F

        docs = docs.repartition(partitions, F.xxhash64("doc_id"))
    if charset_mix or pdf_mix:
        return docs.mapInArrow(
            lambda it: _gen_batches_arrow(
                it, charset_mix=charset_mix, pdf_mix=pdf_mix
            ),
            schema=WEB_PAGES,
        )
    return docs.mapInArrow(_gen_batches_arrow, schema=WEB_PAGES)
