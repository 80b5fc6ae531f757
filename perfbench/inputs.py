"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files.  Payloads are rendered with the program's own
public corpus renderers (``dpo_ocr_spark.corpus``), so the DuckDB oracles
in ``__spark_entry__.oracle_sql()`` re-derive the expected outputs from
the ``documents`` tables written next to them.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# Document texts follow the repository's sf0.1 ``documents`` table, as
# measured on its 5,000 rows:
# - words are drawn uniformly from the 30-word vocabulary below (each word
#   is 3.3-3.4% of all words);
# - a text has 10-99 words, uniform (mean 54.1);
# - ``lang`` is en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%,
#   independent of the text;
# - ``source`` is ``src<doc_id % 20>``;
# - 5% of the documents (250) are another document's text plus the word
#   "dup", which gives the dedup oracles their near-duplicates.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41.2, 15.1, 14.9, 14.8, 14.0]
WORDS = (10, 99)
DUP_SHARE = 0.05

TRUNCATED_SHARE = 0.005  # injected share of truncated layout payloads
RECRAWL_SHARE = 0.10  # warc_to_wet: share of urls captured a second time
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(*WORDS)))


def _langs(rng: random.Random, n: int) -> list[str]:
    return rng.choices(LANGS, weights=LANG_WEIGHTS, k=n)


def _write(path: str, cols: dict, schema: pa.Schema, row_group: int | None = None) -> None:
    pq.write_table(pa.table(cols, schema=schema), path, row_group_size=row_group)


def documents_table(rng: random.Random, n: int) -> dict:
    """``n`` documents in the measured sf0.1 shape (see the note above)."""
    texts = [_text(rng) for _ in range(n)]
    dups = rng.sample(range(n), round(n * DUP_SHARE))
    originals = sorted(set(range(n)) - set(dups))
    for i in dups:
        texts[i] = texts[rng.choice(originals)] + " dup"
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": _langs(rng, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _truncated(payload: bytes) -> bytes:
    """A layout payload cut mid-stream: no longer parseable JSON."""
    return payload[: len(payload) // 2]


def _injected_ids(rng: random.Random, layout_ids: list[int], n_records: int) -> set[int]:
    k = max(1, round(n_records * TRUNCATED_SHARE))
    return set(rng.sample(layout_ids, k))


def pages(out_dir: str, seed: int, n: int) -> dict:
    """pages_to_blocks input: ``documents.parquet`` (the oracles' source)
    plus the staged ``pages.parquet`` in the (url, warc_ts, html, text,
    lang) input shape — 80% HTML, 20% layout JSON, the 10% hot host of
    ``corpus.page_url``, and a seeded 0.5% of truncated layout payloads.
    Returns the injected (quarantine-expected) urls."""
    from dpo_ocr_spark import corpus as C

    rng = random.Random(seed)
    docs = documents_table(rng, n)
    _write(os.path.join(out_dir, "documents.parquet"), docs, DOCS_SCHEMA)
    layout = [i for i in docs["doc_id"] if C.is_layout_doc(i)]
    bad = _injected_ids(rng, layout, n)
    html = []
    for i, t in zip(docs["doc_id"], docs["text"]):
        if C.is_layout_doc(i):
            p = C.render_layout(i, t)
            html.append(_truncated(p) if i in bad else p)
        else:
            html.append(C.render_html(i, t))
    cols = {
        "url": [C.page_url(i) for i in docs["doc_id"]],
        "warc_ts": [EPOCH + timedelta(seconds=i) for i in docs["doc_id"]],
        "html": html,
        "text": [None] * n,
        "lang": docs["lang"],
    }
    # several row groups, so the scan does not pin the salt stage's input
    # to one task
    _write(os.path.join(out_dir, "pages.parquet"), cols, PAGES_SCHEMA, row_group=512)
    return {
        "records": n,
        "injected": sorted(C.page_url(i) for i in bad),
        "payload_bytes": sum(len(h) for h in html),
    }


def _mutate(rng: random.Random, text: str, edits: int) -> str:
    words = text.split(" ")
    for _ in range(edits):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def doc_id(url: str, warc_ts: datetime) -> int:
    """The dedup stage's document id of a capture: ``md5_int63`` of
    ``<url>#<warc_ts in epoch microseconds>``."""
    micros = (warc_ts - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)
    return int(hashlib.md5(f"{url}#{micros}".encode()).hexdigest()[:15], 16)


def captures(out_dir: str, seed: int, n_urls: int) -> dict:
    """warc_to_wet input before archiving: one capture per url, texts in
    the sf0.1 document shape, plus a seeded 10% of re-crawls (same url, a
    later ``warc_ts``, the text with 3 words changed), HTML rendered in the
    charset mix of ``corpus.render_html_cs`` and a seeded 0.5% of
    truncated layout bodies.  Writes ``captures.parquet`` (pages shape)
    and ``expected.parquet`` (url, warc_ts, text, injected, doc_id)."""
    from dpo_ocr_spark import corpus as C

    rng = random.Random(seed)
    base = documents_table(rng, n_urls)["text"]
    recrawled = sorted(rng.sample(range(n_urls), round(n_urls * RECRAWL_SHARE)))
    caps = [(i, 0) for i in range(n_urls)] + [(i, 1) for i in recrawled]
    layout_caps = [j for j, (i, _) in enumerate(caps) if C.is_layout_doc(i)]
    bad = _injected_ids(rng, layout_caps, len(caps))
    urls, tss, html, texts, flags = [], [], [], [], []
    for j, (i, crawl) in enumerate(caps):
        text = _mutate(rng, base[i], 3) if crawl else base[i]
        if C.is_layout_doc(i):
            p = C.render_layout(i, text)
            p = _truncated(p) if j in bad else p
        else:
            p = C.render_html_cs(i, text)
        urls.append(C.page_url(i))
        tss.append(EPOCH + timedelta(seconds=i, days=30 * crawl))
        html.append(p)
        texts.append(C.expected_text(text))
        flags.append(j in bad)
    n = len(caps)
    _write(
        os.path.join(out_dir, "captures.parquet"),
        {"url": urls, "warc_ts": tss, "html": html, "text": [None] * n,
         "lang": [None] * n},
        PAGES_SCHEMA,
    )
    _write(
        os.path.join(out_dir, "expected.parquet"),
        {"url": urls, "warc_ts": tss, "text": texts, "injected": flags,
         "doc_id": [doc_id(u, t) for u, t in zip(urls, tss)]},
        pa.schema(
            [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
             ("text", pa.string()), ("injected", pa.bool_()), ("doc_id", pa.int64())]
        ),
    )
    return {"records": n, "payload_bytes": sum(len(h) for h in html)}


def control_pages(seed: int, n: int = 1500) -> list[bytes]:
    """The kernel control's fixed page set: the renderers and HTML/layout
    mix of the pages_to_blocks input, from a seed of its own."""
    from dpo_ocr_spark import corpus as C

    rng = random.Random(seed ^ 0x5EED)
    out = []
    for i in range(n):
        t = _text(rng)
        out.append(C.render_layout(i, t) if C.is_layout_doc(i) else C.render_html(i, t))
    return out
