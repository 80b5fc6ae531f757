"""WARC/WET/CDX container source & sink (sources/warc.py).

Pins: byte-identical payload round trip (incl. chunked / gzip-encoded HTTP
bodies), writer-index == reader-scan offsets, ranged random access, WET
text+lang round trip, SURT urlkey rendering, and the streaming gzip-member
splitter across chunk boundaries.
"""

from __future__ import annotations

import gzip
import io
import os
import zlib

import pytest

from dpo_ocr_spark.corpus import build_web_pages
from dpo_ocr_spark.session import scratch_dir
from dpo_ocr_spark.sources import warc as W
from sf_fixture import SD


@pytest.fixture(scope="module")
def warc_dir(spark):
    out = scratch_dir("warc_rt_")
    pages = build_web_pages(spark, SD, partitions=4)
    index = W.write_warc(pages, out, exercise_http_codings=True).cache()
    index.count()  # force the files
    return out, index


def test_roundtrip_byte_identical(spark, warc_dir):
    out, index = warc_dir
    pages = build_web_pages(spark, SD).select("url", "html")
    back = W.read_warc(spark, W.list_warc_paths(spark, out)).select(
        "url", "html", "http_status"
    )
    from pyspark.sql import functions as F

    orig = pages.count()
    assert back.count() == orig == index.count()
    assert back.filter(F.col("http_status") != 200).count() == 0
    # byte identity via a distributed comparison (no driver-side bytes)
    joined = pages.join(back.withColumnRenamed("html", "html2"), "url")
    assert joined.count() == orig
    assert joined.filter(F.col("html") != F.col("html2")).count() == 0


def test_writer_index_matches_reader_scan(spark, warc_dir):
    out, index = warc_dir
    back = W.read_warc(spark, W.list_warc_paths(spark, out))
    a = {
        (r["warc_file"], r["rec_offset"], r["rec_length"], r["payload_digest"])
        for r in index.collect()
    }
    b = {
        (r["warc_file"], r["rec_offset"], r["rec_length"], r["payload_digest"])
        for r in back.collect()
    }
    assert a == b


def test_fetch_records_ranged(spark, warc_dir):
    out, index = warc_dir
    from pyspark.sql import functions as F

    sub = index.filter(F.crc32(F.col("url")) % 5 == 0)
    got = W.fetch_records(spark, sub)
    pages = build_web_pages(spark, SD).select("url", "html")
    n_sub = sub.count()
    assert n_sub > 0
    joined = pages.join(got.withColumnRenamed("html", "html2"), "url")
    assert joined.count() == n_sub
    assert joined.filter(F.col("html") != F.col("html2")).count() == 0


def test_uncompressed_roundtrip(spark, warc_dir):
    """A plain ``.warc`` (the written archives with every gzip member
    inflated) reads back like the compressed one, and its record-granular
    offsets support ranged refetch."""
    src, _ = warc_dir
    out = scratch_dir("warc_plain_")
    for p in W.list_warc_paths(spark, src):
        with open(p, "rb") as f:
            raw = gzip.decompress(f.read())  # concatenated members
        with open(os.path.join(out, os.path.basename(p)[: -len(".gz")]), "wb") as f:
            f.write(raw)
    back = W.read_warc(spark, W.list_warc_paths(spark, out, ".warc"))
    from pyspark.sql import functions as F

    pages = build_web_pages(spark, SD)
    joined = pages.select("url", "html").join(
        back.withColumnRenamed("html", "html2"), "url"
    )
    assert joined.count() == pages.count()
    assert joined.filter(F.col("html") != F.col("html2")).count() == 0
    # plain-warc offsets are record-granular: refetch must also work
    got = W.fetch_records(spark, back.limit(7))
    assert got.count() == 7


def test_wet_roundtrip(spark):
    from dpo_ocr_spark.pipeline import run_extraction

    out = scratch_dir("wet_rt_")
    extracted = run_extraction(spark, SD).select("url", "warc_ts", "lang", "text")
    W.write_wet(extracted, out).count()
    back = W.read_wet(
        spark, W.list_warc_paths(spark, out, suffix=".warc.wet.gz")
    )
    a = {(r["url"], r["lang"], r["text"]) for r in extracted.collect()}
    b = {(r["url"], r["lang"], r["text"]) for r in back.collect()}
    assert a == b


def test_cdx_urlkey(spark, warc_dir):
    _, index = warc_dir
    rows = W.cdx_frame(index).collect()
    assert rows == sorted(rows, key=lambda r: (r["urlkey"], r["cdx_ts"]))
    for r in rows[:50]:
        host = r["url"].split("//")[1].split("/")[0]
        path = r["url"].split(host)[1]
        expect = ",".join(reversed(host.lower().split("."))) + ")" + path
        assert r["urlkey"] == expect
        assert len(r["cdx_ts"]) == 14 and r["cdx_ts"].startswith("2024")
        assert r["http_status"] == 200 and r["rec_offset"] >= 0


class _Trickle(io.BytesIO):
    """A file whose reads return at most ``limit`` bytes (a socket or an
    object-store stream may return less than asked)."""

    def __init__(self, data: bytes, limit: int):
        super().__init__(data)
        self.limit = limit

    def read(self, n=-1):
        return super().read(self.limit if n < 0 else min(n, self.limit))


def test_member_splitter_chunk_boundaries():
    members = [b"alpha" * 50, b"b" * 3, b"", b"gamma" * 999]
    raw = b"".join(W._gzip_member(m) for m in members)
    for chunk in (1, 7, 64, W.READ_CHUNK_BYTES):
        got = list(W._iter_members(_Trickle(raw, chunk)))
        assert [g[2] for g in got] == members
        # offsets/lengths tile the file exactly
        pos = 0
        for off, length, _ in got:
            assert off == pos
            pos += length
        assert pos == len(raw)


def test_records_to_batches_byte_budget(tmp_path, monkeypatch):
    """A batch closes as soon as its payload bytes (+128 per record) reach
    the budget; rows keep archive order and carry the declared schema —
    for WARC response records and for WET conversion records, whose
    budget counts UTF-8 bytes, not characters."""
    monkeypatch.setattr(W, "BATCH_BYTES", 1000)
    sizes = [10, 300, 0, 900, 50, 50, 50, 2000, 5]
    hdrs = [("WARC-Date", "2024-01-01T00:00:00Z")]
    warc = tmp_path / "b.warc"
    warc.write_bytes(
        b"".join(
            W._warc_record(
                "response",
                hdrs + [("WARC-Target-URI", f"https://a.example.org/{i}")],
                W._http_response(b"x" * n, "text/html"),
            )
            for i, n in enumerate(sizes)
        )
    )
    wet = tmp_path / "b.warc.wet"
    wet.write_bytes(
        b"".join(
            W._warc_record(
                "conversion",
                hdrs + [("WARC-Target-URI", f"https://a.example.org/{i}")],
                ("é" * n).encode("utf-8"),
            )
            for i, n in enumerate(sizes)
        )
    )
    urls = [f"https://a.example.org/{i}" for i in range(len(sizes))]
    recs = list(W._records_of_file(str(warc)))
    batches = list(W._records_to_batches(iter(recs), W._RECORDS_ARROW))
    assert [b.num_rows for b in batches] == [4, 4, 1]
    assert all(b.schema == W._RECORDS_ARROW for b in batches)
    assert [u for b in batches for u in b.column("url").to_pylist()] == urls
    assert [h for b in batches for h in b.column("html").to_pylist()] == [
        b"x" * n for n in sizes
    ]

    recs = [dict(r, text=r["html"].decode("utf-8")) for r in W._records_of_file(str(wet))]
    batches = list(W._records_to_batches(iter(recs), W._WET_ARROW))
    assert [b.num_rows for b in batches] == [3, 1, 4, 1]
    assert all(b.schema == W._WET_ARROW for b in batches)
    assert [u for b in batches for u in b.column("url").to_pylist()] == urls
    assert [t for b in batches for t in b.column("text").to_pylist()] == [
        "é" * n for n in sizes
    ]
    assert list(W._records_to_batches(iter([]), W._WET_ARROW)) == []


def test_http_decodings_unit():
    body = b"<html>x</html>" * 40
    for kw in ({}, {"chunked": True}, {"gzipped": True}, {"chunked": True, "gzipped": True}):
        status, mime, got = W._parse_http_response(
            W._http_response(body, "text/html; charset=UTF-8", **kw)
        )
        assert (status, mime, got) == (200, "text/html", body)
    # content-length must truncate trailing junk
    resp = W._http_response(body, "text/html") + b"JUNK"
    assert W._parse_http_response(resp)[2] == body


def test_non_response_records_skipped(spark, tmp_path):
    # a file holding warcinfo + request + a 404 + one good response
    good = W._warc_record(
        "response",
        [
            ("WARC-Record-ID", "<urn:uuid:1>"),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("WARC-Target-URI", "https://ok.example.org/a"),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        W._http_response(b"page", "text/html"),
    )
    bad = W._warc_record(
        "response",
        [
            ("WARC-Record-ID", "<urn:uuid:2>"),
            ("WARC-Date", "2024-01-01T00:00:01Z"),
            ("WARC-Target-URI", "https://gone.example.org/b"),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        b"HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n",
    )
    req = W._warc_record(
        "request",
        [
            ("WARC-Record-ID", "<urn:uuid:3>"),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("WARC-Target-URI", "https://ok.example.org/a"),
        ],
        b"GET /a HTTP/1.1\r\n\r\n",
    )
    path = str(tmp_path / "mixed.warc.gz")
    with open(path, "wb") as f:
        for rec in (W._warcinfo("mixed.warc.gz"), req, good, bad):
            f.write(W._gzip_member(rec))
    # the request and the 404 response are dropped: only the 200 remains
    ok = W.read_warc(spark, [path]).collect()
    assert [r["url"] for r in ok] == ["https://ok.example.org/a"]
    assert [r["http_status"] for r in ok] == [200]
    assert bytes(ok[0]["html"]) == b"page"


def test_payload_digest_convention(spark, warc_dir):
    _, index = warc_dir
    r = index.first()
    assert r["payload_digest"].startswith("sha1:")
    assert len(r["payload_digest"]) == 5 + 32  # base32 sha1


def test_multi_record_member(spark, tmp_path):
    # spec allows >1 record per member; reader must still surface both
    recs = b"".join(
        W._warc_record(
            "response",
            [
                ("WARC-Record-ID", f"<urn:uuid:{i}>"),
                ("WARC-Date", "2024-01-01T00:00:00Z"),
                ("WARC-Target-URI", f"https://m.example.org/{i}"),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            W._http_response(f"body{i}".encode(), "text/html"),
        )
        for i in range(3)
    )
    path = str(tmp_path / "multi.warc.gz")
    with open(path, "wb") as f:
        f.write(W._gzip_member(recs))
    got = W.read_warc(spark, [path]).collect()
    assert sorted(r["url"][-1] for r in got) == ["0", "1", "2"]
    assert sorted(bytes(r["html"]) for r in got) == [b"body0", b"body1", b"body2"]


def test_warc_ingest_job_end_to_end(tmp_path, spark, warc_dir):
    """Deployment shape: run_warc_ingest.py in a fresh interpreter —
    archives → pages table + CDX + extraction results + lineage + WET."""
    import subprocess
    import sys

    out_dir, _ = warc_dir
    pages_t = str(tmp_path / "pages")
    cdx_t = str(tmp_path / "cdx")
    ext_t = str(tmp_path / "ext")
    lin_t = str(tmp_path / "lin")
    wet_t = str(tmp_path / "wet")
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo
    r = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "run_warc_ingest.py"),
            "--warc-dir", out_dir, "--pages", pages_t, "--cdx", cdx_t,
            "--extract-to", ext_t, "--lineage", lin_t, "--wet-dir", wet_t,
            "--salt-partitions", "8",
        ],
        capture_output=True, text=True, env=env, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    from pyspark.sql import functions as F

    from dpo_ocr_spark.pipeline import run_extraction

    n = spark.read.parquet(pages_t).count()
    assert n == 500
    cdx = spark.read.parquet(cdx_t)
    assert cdx.count() == 500
    assert cdx.filter(~F.col("urlkey").startswith("org,example,")).count() == 0
    ext = spark.read.parquet(ext_t).select("url", "text")
    ref = run_extraction(spark, SD).select(
        "url", F.col("text").alias("text_ref")
    )
    j = ext.join(ref, "url")
    assert j.count() == 500
    assert j.filter(F.col("text") != F.col("text_ref")).count() == 0
    assert spark.read.parquet(lin_t).agg(
        F.sum("input_count")
    ).collect()[0][0] == 500
    wet = W.read_wet(
        spark, W.list_warc_paths(spark, wet_t, suffix=".warc.wet.gz")
    )
    assert wet.count() == 500


def test_warc_date_microseconds_roundtrip():
    from datetime import datetime, timezone

    ts = datetime(2024, 3, 1, 10, 20, 30, 123456, tzinfo=timezone.utc)
    s = W._warc_date(ts)
    assert s == "2024-03-01T10:20:30.123456Z"
    assert W._parse_warc_ts(s) == ts
    whole = ts.replace(microsecond=0)
    assert W._warc_date(whole) == "2024-03-01T10:20:30Z"
    assert W._parse_warc_ts("2024-03-01T10:20:30Z") == whole


def test_capitalized_chunked_header():
    body = b"<html>y</html>" * 30
    resp = W._http_response(body, "text/html", chunked=True)
    # capitalize the header value the way some real servers emit it, and
    # add a Content-Length of the DECODED size (must not pre-truncate)
    resp = resp.replace(b"Transfer-Encoding: chunked",
                        b"Transfer-Encoding: Chunked\r\n"
                        + b"Content-Length: " + str(len(body)).encode())
    status, mime, got = W._parse_http_response(resp)
    assert (status, got) == (200, body)


def test_fetch_records_multi_record_member_no_duplicates(spark, tmp_path):
    recs = b"".join(
        W._warc_record(
            "response",
            [
                ("WARC-Record-ID", f"<urn:uuid:{i}>"),
                ("WARC-Date", "2024-01-01T00:00:00Z"),
                ("WARC-Target-URI", f"https://m.example.org/{i}"),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            W._http_response(f"body{i}".encode(), "text/html"),
        )
        for i in range(3)
    )
    path = str(tmp_path / "multi2.warc.gz")
    with open(path, "wb") as f:
        f.write(W._warc_member_bytes(recs) if hasattr(W, "_warc_member_bytes")
                else W._gzip_member(recs))
    idx = W.read_warc(spark, [path]).select(
        "warc_file", "rec_offset", "rec_length"
    )
    # all 3 index rows share one member; the refetch must read it once
    got = W.fetch_records(spark, idx).collect()
    assert sorted(r["url"][-1] for r in got) == ["0", "1", "2"]
