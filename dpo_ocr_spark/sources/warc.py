"""WARC / WET / CDX container source & sink (the Common-Crawl wire formats).

The engine's canonical input is an Iceberg table of Common-Crawl-style web
pages (BASELINE.json input_hint: ``url, warc_ts, html:binary, text, lang``).
In production that table is *loaded from* WARC archives — the ISO 28500
record container Common Crawl publishes (one gzip member per record, so any
record is independently range-fetchable), with a CDX index carrying
``(urlkey, timestamp, offset, length, digest)`` per record.  This module
implements that ingestion/egress boundary Spark-first:

- :func:`write_warc` — distributed sink: one ``.warc.gz`` per partition
  (gzip member per record, warcinfo header record first), emitting the
  per-record index rows (offset/length/digest) as its output frame — the
  exact rows a CDX index holds, produced at write time for free.
- :func:`read_warc` — distributed source: a list of archive paths (one
  task per archive, which is how Common Crawl jobs actually parallelise:
  ~1 GB archives × tens of thousands of files) streamed member-by-member, so
  peak memory is one compressed chunk + one record, never the whole file.
  Handles uncompressed ``.warc`` too (a manifest may list plain
  archives), plus HTTP ``Transfer-Encoding: chunked`` and
  ``Content-Encoding: gzip`` response bodies.  It yields only the HTTP
  200 responses: they are the pages extraction reads.
- :func:`write_wet` / :func:`read_wet` — the text-only "conversion record"
  sibling format (WET), carrying the extracted text per url.
- :func:`cdx_frame` — SURT urlkey + 14-digit timestamp CDX columns of
  the index frame, pure JVM expressions (no Python in the formatter).
- :func:`fetch_records` — random access: given index rows, range-read and
  decode ONLY those members (the resume path: a restart re-fetches the
  failed partition's records by offset instead of rescanning archives).

Determinism: gzip members are produced by zlib with a fixed header
(mtime=0), record ids are content-derived (md5 of url+ts, not uuid4), and
the record layout is fixed — so the same partition rewrites byte-identical
archives, and the writer's index and the reader's scan must agree exactly
(pinned in tests/test_warc.py).

Scale notes (100 TB): parallelism unit = archive file; the listing
(``list_warc_paths``) becomes a one-column frame with one partition per
path, so each task streams one file.  Local paths use ``open()``; on a
cluster the same code runs against a mounted object store (or swap
``_open`` for an fsspec/S3 opener — the parser only needs ``read``).
``fetch_records`` groups by file and seeks, which maps 1:1 onto S3 ranged
GETs.  No per-row Python anywhere a built-in could go: header/CDX
formatting is JVM-side; only the byte-level container codec runs in
Arrow-batched Python, the same boundary as the page decoder
(extract/stage.py).
"""

from __future__ import annotations

import base64
import hashlib
import os
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import WEB_PAGES

_CRLF = b"\r\n"
_WARC_VERSION = b"WARC/1.0"

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

# Reader output: input_hint columns + container/HTTP provenance.
WARC_RECORDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("payload_digest", T.StringType(), True),
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("rec_offset", T.LongType(), False),
        T.StructField("rec_length", T.LongType(), False),
    ]
)

# Writer output = CDX index content (one row per written record).
WARC_INDEX = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("payload_digest", T.StringType(), False),
        T.StructField("payload_len", T.LongType(), False),
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("rec_offset", T.LongType(), False),
        T.StructField("rec_length", T.LongType(), False),
    ]
)

WET_RECORDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

# Arrow schemas of the batches the Python codecs build, derived from the
# declarations above so the two cannot drift apart.
_RECORDS_ARROW = to_arrow_schema(WARC_RECORDS)
_INDEX_ARROW = to_arrow_schema(WARC_INDEX)
_WET_ARROW = to_arrow_schema(WET_RECORDS)


# ---------------------------------------------------------------------------
# Record synthesis (writer side)
# ---------------------------------------------------------------------------


def _warc_date(ts: datetime | None) -> str:
    if ts is None:
        ts = datetime(1970, 1, 1, tzinfo=timezone.utc)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    ts = ts.astimezone(timezone.utc)
    if ts.microsecond:
        # WARC 1.1 fractional form — whole seconds must not round-trip
        # lossily through the archive (writer index == reader scan)
        return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(url: str, date: str) -> str:
    """Content-derived record id (md5 of url+date rendered as a urn:uuid) —
    uuid4 would break rewrite determinism."""
    h = hashlib.md5((url + "|" + date).encode("utf-8")).hexdigest()
    return f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"


def sha1_b32(payload: bytes) -> str:
    """``sha1:BASE32`` — the digest convention Common Crawl CDXes use."""
    return "sha1:" + base64.b32encode(hashlib.sha1(payload).digest()).decode()


def _gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member (zlib writes mtime=0; no filename)."""
    c = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(raw) + c.flush()


def _warc_record(rec_type: str, headers: list[tuple[str, str]], payload: bytes) -> bytes:
    lines = [_WARC_VERSION, b"WARC-Type: " + rec_type.encode("ascii")]
    for k, v in headers:
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {len(payload)}".encode("ascii"))
    head = _CRLF.join(lines) + _CRLF + _CRLF
    return head + payload + _CRLF + _CRLF


def _chunked(body: bytes) -> bytes:
    """Encode an HTTP body with Transfer-Encoding: chunked, 256 bytes a
    chunk."""
    out = bytearray()
    for i in range(0, len(body), 256):
        piece = body[i : i + 256]
        out += f"{len(piece):x}".encode("ascii") + _CRLF + piece + _CRLF
    out += b"0" + _CRLF + _CRLF
    return bytes(out)


def _http_response(
    body: bytes, mime: str, *, chunked: bool = False, gzipped: bool = False
) -> bytes:
    """A stored HTTP/1.1 response (head + body) the way a crawler saw it."""
    hdrs = [b"HTTP/1.1 200 OK", f"Content-Type: {mime}".encode("ascii")]
    wire = body
    if gzipped:
        wire = _gzip_member(wire)
        hdrs.append(b"Content-Encoding: gzip")
    if chunked:
        wire = _chunked(wire)
        hdrs.append(b"Transfer-Encoding: chunked")
    else:
        hdrs.append(f"Content-Length: {len(wire)}".encode("ascii"))
    return _CRLF.join(hdrs) + _CRLF + _CRLF + wire


def _warcinfo(filename: str) -> bytes:
    info = (
        b"software: dpo-ocr-spark warc sink\r\n"
        b"format: WARC File Format 1.0\r\n"
    )
    return _warc_record(
        "warcinfo",
        [
            ("WARC-Record-ID", _record_id(filename, "warcinfo")),
            ("WARC-Date", _warc_date(None)),
            ("WARC-Filename", filename),
            ("Content-Type", "application/warc-fields"),
        ],
        info,
    )


def _mime_of(html: bytes) -> str:
    # layout payloads are Document-AI-shaped JSON (corpus.render_layout)
    return "application/json" if html[:1] == b"{" else "text/html; charset=UTF-8"


def _archive_writer(it, out_dir: str, ext: str, records_of):
    """Shared writer scaffold for WARC/WET sinks: one file per partition
    (warcinfo first, one gzip member per record), index rows accumulated
    per the WARC_INDEX schema.

    ``records_of(batch)`` yields ``(url, ts, mime, status, digest,
    payload_len, record_bytes)`` per record."""
    import pyarrow as pa
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    fname = f"part-{pid:05d}{ext}"
    path = os.path.join(out_dir, fname)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, list] = {n: [] for n in WARC_INDEX.names}
    with open(path, "wb") as f:
        f.write(_gzip_member(_warcinfo(fname)))
        pos = f.tell()
        for batch in it:
            for url, ts, mime, status, digest, plen, rec in records_of(batch):
                out = _gzip_member(rec)
                f.write(out)
                rows["url"].append(url)
                rows["warc_ts"].append(ts)
                rows["mime"].append(mime)
                rows["http_status"].append(status)
                rows["payload_digest"].append(digest)
                rows["payload_len"].append(plen)
                rows["warc_file"].append(path)
                rows["rec_offset"].append(pos)
                rows["rec_length"].append(len(out))
                pos += len(out)
    yield pa.RecordBatch.from_pydict(rows, schema=_INDEX_ARROW)


def write_warc(
    pages: DataFrame,
    out_dir: str,
    *,
    exercise_http_codings: bool = False,
) -> DataFrame:
    """web_pages frame → one ``.warc.gz`` per partition; returns WARC_INDEX.

    Each response record is its own gzip member (Common Crawl layout), so
    ``(rec_offset, rec_length)`` supports ranged refetch.  The returned
    frame is lazy — the files land when it is consumed; persist it with
    ``sources.iceberg.write_results`` so index and archives commit
    together (same contract as scale.with_lineage).

    ``exercise_http_codings``: store every 11th url chunked and every 13th
    gzip-encoded (both legal as-crawled forms) so a round trip proves the
    reader's HTTP decoding, not just the happy path.
    """

    def records_of(batch):
        urls = batch.column("url").to_pylist()
        tss = batch.column("warc_ts").to_pylist()
        htmls = batch.column("html").to_pylist()
        for url, ts, html in zip(urls, tss, htmls):
            body = bytes(html) if html is not None else b""
            mime = _mime_of(body)
            n = sum(ord(c) for c in url)
            http = _http_response(
                body,
                mime,
                chunked=exercise_http_codings and n % 11 == 3,
                gzipped=exercise_http_codings and n % 11 != 3 and n % 13 == 5,
            )
            date = _warc_date(ts)
            digest = sha1_b32(body)
            rec = _warc_record(
                "response",
                [
                    ("WARC-Record-ID", _record_id(url, date)),
                    ("WARC-Date", date),
                    ("WARC-Target-URI", url),
                    ("WARC-Payload-Digest", digest),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
            yield url, ts, mime.split(";")[0], 200, digest, len(body), rec

    def gen(it):
        yield from _archive_writer(it, out_dir, ".warc.gz", records_of)

    return pages.mapInArrow(gen, schema=WARC_INDEX)


# ---------------------------------------------------------------------------
# Container parsing (reader side)
# ---------------------------------------------------------------------------


# Reader budgets: compressed bytes per read, and payload bytes per Arrow
# batch (same budget idiom as extract/stage.py).
READ_CHUNK_BYTES = 1 << 20
BATCH_BYTES = 32 << 20


def _iter_members(f) -> Iterator[tuple[int, int, bytes]]:
    """Stream (offset, compressed_length, decompressed_bytes) per gzip
    member from a file object, reading at most ``READ_CHUNK_BYTES`` at a
    time — peak memory is one chunk + one record, never the file."""
    buf = f.read(READ_CHUNK_BYTES)
    pos = 0  # absolute offset of buf[0]
    while buf:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = bytearray()
        start = pos
        while True:
            out += d.decompress(buf)
            consumed = len(buf) - len(d.unused_data)
            pos += consumed
            buf = d.unused_data
            if d.eof:
                break
            nxt = f.read(READ_CHUNK_BYTES)
            if not nxt:
                if out:
                    break  # truncated final member: surface what decoded
                return
            buf = nxt
        yield start, pos - start, bytes(out)
        if not buf:
            buf = f.read(READ_CHUNK_BYTES)


def _parse_warc_headers(raw: bytes, at: int) -> tuple[dict[str, str], int]:
    """Parse one WARC header block starting at ``at``; returns (headers,
    payload_start)."""
    end = raw.index(_CRLF + _CRLF, at)
    lines = raw[at:end].split(_CRLF)
    if not lines[0].startswith(b"WARC/"):
        raise ValueError(f"not a WARC record at {at}: {lines[0][:40]!r}")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().decode("utf-8").lower()] = v.strip().decode("utf-8")
    return headers, end + 4


def _iter_records_in(raw: bytes) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """All WARC records inside one decompressed stream: (start_in_stream,
    headers, payload)."""
    at = 0
    n = len(raw)
    while at < n:
        # tolerate the inter-record CRLF CRLF and trailing padding
        while at < n and raw[at : at + 2] == _CRLF:
            at += 2
        if at >= n:
            return
        headers, body_at = _parse_warc_headers(raw, at)
        length = int(headers["content-length"])
        yield at, headers, raw[body_at : body_at + length]
        at = body_at + length


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    at = 0
    while True:
        eol = body.index(_CRLF, at)
        size = int(body[at:eol].split(b";")[0], 16)
        at = eol + 2
        if size == 0:
            return bytes(out)
        out += body[at : at + size]
        at = at + size + 2  # skip chunk CRLF


def _parse_http_response(payload: bytes) -> tuple[int, str | None, bytes]:
    """Stored HTTP response → (status, mime, decoded body)."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        return 0, None, payload
    head = payload[:sep].decode("latin-1").split("\r\n")
    try:
        status = int(head[0].split(" ")[1])
    except (IndexError, ValueError):
        status = 0
    hdrs: dict[str, str] = {}
    for line in head[1:]:
        k, _, v = line.partition(":")
        hdrs[k.strip().lower()] = v.strip()
    body = payload[sep + 4 :]
    chunked = "chunked" in hdrs.get("transfer-encoding", "").lower()
    if "content-length" in hdrs and not chunked:
        body = body[: int(hdrs["content-length"])]
    if chunked:
        body = _dechunk(body)
    if hdrs.get("content-encoding", "").lower() == "gzip":
        body = zlib.decompress(body, 16 + zlib.MAX_WBITS)
    mime = hdrs.get("content-type")
    if mime:
        mime = mime.split(";")[0].strip().lower()
    return status, mime, body


def _parse_warc_ts(s: str | None) -> datetime | None:
    if not s:
        return None
    fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in s else "%Y-%m-%dT%H:%M:%SZ"
    return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)


def _open(path: str):
    """The only filesystem touchpoint — swap for an fsspec opener off-box."""
    return open(path, "rb")


def _record(
    headers: dict[str, str], payload: bytes, path: str, off: int, length: int
) -> dict:
    """One response or conversion record as a dict keyed like WARC_RECORDS
    (plus ``rec_type`` and ``lang``); a response's HTTP body is decoded."""
    rtype = headers.get("warc-type")
    rec: dict = {
        "warc_file": path,
        "rec_offset": off,
        "rec_length": length,
        "rec_type": rtype,
        "url": headers.get("warc-target-uri", ""),
        "warc_ts": _parse_warc_ts(headers.get("warc-date")),
        "payload_digest": headers.get("warc-payload-digest"),
        "lang": headers.get("warc-identified-content-language"),
    }
    if rtype == "response":
        status, mime, body = _parse_http_response(payload)
        rec.update(http_status=status, content_type=mime, html=body)
        if rec["payload_digest"] is None:
            rec["payload_digest"] = sha1_b32(body)
    else:
        rec.update(http_status=None, content_type="text/plain", html=payload)
    return rec


def _records_of_file(path: str) -> Iterator[dict]:
    """All response/conversion records of one archive, streamed."""
    compressed = path.endswith(".gz")
    with _open(path) as f:
        if compressed:
            streams: Iterator[tuple[int, int, bytes]] = _iter_members(f)
        else:
            raw = f.read()  # uncompressed: offsets are plain byte offsets
            streams = iter([(0, len(raw), raw)])
        for m_off, m_len, raw in streams:
            for r_at, headers, payload in _iter_records_in(raw):
                if headers.get("warc-type") not in ("response", "conversion"):
                    continue
                if compressed:
                    off, length = m_off, m_len
                else:
                    # record-granular offsets in the plain-warc case
                    off = r_at
                    head_len = raw.index(_CRLF + _CRLF, r_at) + 4 - r_at
                    length = head_len + int(headers["content-length"]) + 4
                yield _record(headers, payload, path, off, int(length))


def _records_to_batches(recs: Iterator[dict], schema):
    """Record dicts → Arrow batches of ``schema``, in order, each closed
    once its payloads reach ``BATCH_BYTES``: a 1 GB archive never
    materializes as ONE batch."""
    import pyarrow as pa

    cols: dict[str, list] = {n: [] for n in schema.names}
    budget = 0
    for r in recs:
        for n, col in cols.items():
            col.append(r.get(n))
        budget += len(r.get("html") or b"") + 128
        if budget >= BATCH_BYTES:
            yield pa.RecordBatch.from_pydict(cols, schema=schema)
            cols = {n: [] for n in schema.names}
            budget = 0
    if budget:
        yield pa.RecordBatch.from_pydict(cols, schema=schema)


def _paths_frame(spark: SparkSession, paths: list[str]) -> DataFrame:
    df = spark.createDataFrame([(p,) for p in sorted(paths)], "path: string")
    # one task per archive (round-robin: exact balance even when path
    # hashes collide) — the scale-out unit of every Common Crawl job
    return df.repartition(max(len(paths), 1))


def list_warc_paths(spark: SparkSession, directory: str, suffix: str = ".warc.gz") -> list[str]:
    return sorted(
        os.path.join(directory, p)
        for p in os.listdir(directory)
        if p.endswith(suffix)
    )


def read_warc(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Archive paths → WARC_RECORDS frame of the HTTP 200 responses (one
    streaming task per file)."""

    def gen(it):
        for batch in it:
            for path in batch.column("path").to_pylist():
                recs = (
                    r
                    for r in _records_of_file(path)
                    if r["rec_type"] == "response" and r["http_status"] == 200
                )
                yield from _records_to_batches(recs, _RECORDS_ARROW)

    return _paths_frame(spark, paths).mapInArrow(gen, schema=WARC_RECORDS)


def warc_pages(records: DataFrame) -> DataFrame:
    """WARC_RECORDS → the input_hint web_pages shape (extraction input)."""
    return records.select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# ---------------------------------------------------------------------------
# WET (conversion records: extracted text only)
# ---------------------------------------------------------------------------


def write_wet(extracted: DataFrame, out_dir: str) -> DataFrame:
    """EXTRACT_RESULT-shaped frame (url, warc_ts, lang, text) → gzipped
    WET files; returns the written index (payload digests over the UTF-8
    text)."""

    def records_of(batch):
        urls = batch.column("url").to_pylist()
        tss = batch.column("warc_ts").to_pylist()
        langs = batch.column("lang").to_pylist()
        texts = batch.column("text").to_pylist()
        for url, ts, lang, text in zip(urls, tss, langs, texts):
            body = (text or "").encode("utf-8")
            date = _warc_date(ts)
            digest = sha1_b32(body)
            hdrs = [
                ("WARC-Record-ID", _record_id(url, date)),
                ("WARC-Date", date),
                ("WARC-Target-URI", url),
                ("WARC-Payload-Digest", digest),
                ("Content-Type", "text/plain"),
            ]
            if lang:
                hdrs.append(("WARC-Identified-Content-Language", lang))
            rec = _warc_record("conversion", hdrs, body)
            yield url, ts, "text/plain", None, digest, len(body), rec

    def gen(it):
        yield from _archive_writer(it, out_dir, ".warc.wet.gz", records_of)

    return extracted.select("url", "warc_ts", "lang", "text").mapInArrow(
        gen, schema=WARC_INDEX
    )


def read_wet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """WET paths → (url, warc_ts, lang, text); byte-bounded batches like
    read_warc."""

    def gen(it):
        for batch in it:
            for path in batch.column("path").to_pylist():
                recs = (
                    dict(r, text=r["html"].decode("utf-8"))
                    for r in _records_of_file(path)
                    if r["rec_type"] == "conversion"
                )
                yield from _records_to_batches(recs, _WET_ARROW)

    return _paths_frame(spark, paths).mapInArrow(gen, schema=WET_RECORDS)


# ---------------------------------------------------------------------------
# CDX rendering (JVM-side) + random access
# ---------------------------------------------------------------------------


def surt_urlkey(col):
    """SURT canonical urlkey, pure Spark expressions: scheme stripped,
    host lowercased + comma-reversed, path kept:
    ``https://Host-7.Example.org/doc/9`` → ``org,example,host-7)/doc/9``."""
    rest = F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"^www\.", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/:?#]+)", 1))
    path = F.regexp_extract(rest, r"^[^/:?#]+(.*)$", 1)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(rev, F.lit(")"), path)


def cdx_frame(index: DataFrame) -> DataFrame:
    """WARC_INDEX → CDX columns (urlkey, 14-digit ts, and the JSON blob's
    fields kept relational — the CDXJ line is one to_json away)."""
    return index.select(
        surt_urlkey(F.col("url")).alias("urlkey"),
        F.date_format(
            F.to_utc_timestamp("warc_ts", "UTC"), "yyyyMMddHHmmss"
        ).alias("cdx_ts"),
        "url",
        "mime",
        "http_status",
        "payload_digest",
        "warc_file",
        "rec_offset",
        "rec_length",
    ).orderBy("urlkey", "cdx_ts")


def fetch_records(spark: SparkSession, index: DataFrame) -> DataFrame:
    """Random access: index rows → WARC_RECORDS via ranged reads only.

    The resume path: re-fetch precisely the records of a failed partition
    by (file, offset, length) — on object storage these are ranged GETs;
    no archive is rescanned.  Groups by file so each file opens once per
    task."""

    def gen(it):
        for batch in it:
            files = batch.column("warc_file").to_pylist()
            offs = batch.column("rec_offset").to_pylist()
            lens = batch.column("rec_length").to_pylist()
            by_file: dict[str, list[tuple[int, int]]] = {}
            for p, o, n in zip(files, offs, lens):
                by_file.setdefault(p, []).append((o, n))

            def recs():
                for path, ranges in sorted(by_file.items()):
                    compressed = path.endswith(".gz")
                    with _open(path) as f:
                        # dedupe: index rows of a multi-record member
                        # share one (offset, length) — read it ONCE
                        # (fetch granularity is the member, like a CDX)
                        for off, n in sorted(set(ranges)):
                            f.seek(off)
                            raw = f.read(n)
                            if compressed:
                                raw = zlib.decompress(raw, 16 + zlib.MAX_WBITS)
                            for _, headers, payload in _iter_records_in(raw):
                                if headers.get("warc-type") == "response":
                                    yield _record(headers, payload, path, off, n)

            yield from _records_to_batches(recs(), _RECORDS_ARROW)

    cols = index.select("warc_file", "rec_offset", "rec_length")
    return cols.repartition("warc_file").mapInArrow(gen, schema=WARC_RECORDS)
