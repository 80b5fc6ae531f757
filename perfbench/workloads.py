"""The workloads: seeded set-up, one job pass, and its output check.

Each job calls the program's public layer functions in the order its
production job does.  The same ``job`` code runs untraced (``NullTracer``:
lazy frames, no spans) and traced (``Tracer``: spans and cached
boundaries), so the traced run cannot drift from the timed one.

A check returns the number of input records whose output is wrong or
missing; a job that raises fails every record of its pass.
"""

from __future__ import annotations

import os

from . import inputs

# Input sizes.  A pass costs mostly fixed per-job overhead (about 4 s on
# pages_to_blocks, 8 s on warc_to_wet at local[4]), so a run fits its
# warm-up and three timed passes in about a minute.
SIZES = {
    "pages_to_blocks": 3000,  # pages (0.5% of them is whole)
    "warc_to_wet": 2000,  # urls (+10% re-crawls; 0.5% of 2,200 records is whole)
}


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _mismatches(con, sql: str) -> int:
    return int(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])


def _diff(cols: str, expected: str, got: str, key: str = "url") -> str:
    """Keys of rows present on one side only (multiset difference both
    ways): the records whose output is wrong, missing or extra."""
    return (
        f"SELECT {key} FROM (SELECT {cols} FROM {expected} EXCEPT ALL SELECT {cols} FROM {got}) "
        f"UNION ALL SELECT {key} FROM (SELECT {cols} FROM {got} EXCEPT ALL SELECT {cols} FROM {expected})"
    )


def _bad_keys(con, *keyed_sql: str, key: str = "url") -> int:
    """Distinct keys over the union of per-check key sets."""
    union = " UNION ALL ".join(f"SELECT {key} FROM ({q})" for q in keyed_sql)
    return _mismatches(con, f"SELECT DISTINCT {key} FROM ({union})")


class Workload:
    name = ""

    def __init__(self, ctx, size: int | None = None, input_dir: str | None = None):
        self.ctx = ctx
        self.spark = ctx.spark
        self.con = ctx.con
        self.size = size or SIZES[self.name]
        self.input = input_dir or os.path.join(ctx.tmp, "input")

    def generate(self, out_dir: str) -> dict:
        raise NotImplementedError

    def stage(self) -> None:
        """Program-side set-up after generation (counts toward set-up)."""

    def expect(self) -> None:
        """The benchmark's expected outputs, in DuckDB (not set-up)."""

    def job(self, out: str, tr) -> None:
        raise NotImplementedError

    def check(self, out: str) -> int:
        raise NotImplementedError

    def layer_counts(self, out: str, tr) -> dict:
        return {}


class PagesToBlocks(Workload):
    """Production extract job, then block assembly over its results."""

    name = "pages_to_blocks"

    def generate(self, out_dir):
        info = inputs.pages(out_dir, self.ctx.seed, self.size)
        self.injected = info["injected"]
        return info

    def expect(self):
        from __spark_entry__ import oracle_sql

        o = oracle_sql()
        c = self.con
        c.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{self.input}/documents.parquet'")
        c.execute("CREATE OR REPLACE TABLE injected(url VARCHAR)")
        c.executemany("INSERT INTO injected VALUES (?)", [(u,) for u in self.injected])
        c.execute(f"CREATE OR REPLACE TABLE exp_text AS SELECT url, md5(text) AS h FROM ({o['extract_text']})")
        c.execute(
            "CREATE OR REPLACE TABLE exp_blocks AS SELECT url, block, word_line, block_text "
            f"FROM ({o['block_assembly']}) WHERE url NOT IN (SELECT url FROM injected)"
        )
        c.execute(
            "CREATE OR REPLACE TABLE exp_ro AS SELECT url, block, block_text "
            f"FROM ({o['reading_order']}) WHERE url NOT IN (SELECT url FROM injected)"
        )

    def job(self, out, tr):
        from dpo_ocr_spark.assemble import (
            assemble_blocks,
            assemble_reading_order,
            explode_tokens,
        )
        from dpo_ocr_spark.extract import extract_pages
        from dpo_ocr_spark.scale import salted_repartition, with_lineage
        from dpo_ocr_spark.sources.iceberg import write_results

        spark = self.spark
        parts = self.ctx.cpus * 2  # run_extract.py's --salt-partitions default
        pages = spark.read.parquet(f"{self.input}/pages.parquet")
        with tr.span("scale.salt"):
            salted = tr.boundary(salted_repartition(pages, parts), "salted")
        with tr.span("extract"):
            extracted = tr.boundary(extract_pages(salted), "extracted")
        with tr.span("scale.lineage"):
            results, lineage = with_lineage(extracted, num_buckets=parts)
            write_results(results, f"{out}/results")
            write_results(lineage, f"{out}/lineage")
        with tr.span("assemble"):
            tokens = explode_tokens(spark.read.parquet(f"{out}/results"))
            assemble_blocks(tokens).write.parquet(f"{out}/blocks")
            assemble_reading_order(tokens).write.parquet(f"{out}/reading_order")

    def check(self, out):
        c = self.con
        res = _parquet(f"{out}/results")
        blocks = _parquet(f"{out}/blocks")
        ro = _parquet(f"{out}/reading_order")
        n_bad = _bad_keys(
            c,
            f"""SELECT url FROM exp_text e
                  FULL JOIN (SELECT url, payload_kind, md5(text) AS h FROM {res}) r USING (url)
                WHERE e.url IS NULL OR r.url IS NULL
                   OR (url IN (SELECT url FROM injected)) <> (r.payload_kind = 'error')
                   OR (r.payload_kind <> 'error' AND r.h IS DISTINCT FROM e.h)""",
            _diff("url, block, word_line, block_text", "exp_blocks", blocks),
            _diff("url, block, block_text", "exp_ro", ro),
        )
        lineage_rows = c.execute(
            f"SELECT coalesce(sum(input_count), 0) FROM {_parquet(f'{out}/lineage')}"
        ).fetchone()[0]
        return n_bad + abs(int(lineage_rows) - self.size)

    def layer_counts(self, out, tr):
        c = self.con
        res = _parquet(f"{out}/results")
        r = c.execute(
            f"SELECT count(*), sum(n_bytes), sum(n_tokens), count(*) FILTER (payload_kind = 'error') FROM {res}"
        ).fetchone()
        tokens_in = c.execute(f"SELECT count(*) FROM (SELECT unnest(tokens) FROM {res})").fetchone()[0]
        rows_out = sum(
            c.execute(f"SELECT count(*) FROM {_parquet(f'{out}/{t}')}").fetchone()[0]
            for t in ("blocks", "reading_order")
        )
        return {
            "extract.records": r[0],
            "extract.payload_mb": (r[1] or 0) / 1e6,
            "extract.tokens": r[2] or 0,
            "extract.quarantined": r[3],
            "assemble.tokens_in": tokens_in,
            "assemble.rows_out": rows_out,
        }


class WarcToWet(Workload):
    """Common Crawl ingest: archives in, WET conversion records out, then
    MinHash-LSH near-duplicate candidates over the WET text."""

    name = "warc_to_wet"

    def generate(self, out_dir):
        return inputs.captures(out_dir, self.ctx.seed, self.size)

    def stage(self):
        from dpo_ocr_spark.sources.warc import write_warc

        caps = self.spark.read.parquet(f"{self.input}/captures.parquet")
        # archives are the set-up's output.  read_warc runs one task per
        # archive; round-robin keeps their sizes equal whatever the seed.
        write_warc(
            caps.repartition(self.ctx.cpus * 2),
            f"{self.input}/warc",
            exercise_http_codings=True,
        ).write.format("noop").mode("overwrite").save()

    def expect(self):
        from __spark_entry__ import oracle_sql

        c = self.con
        c.execute(f"CREATE OR REPLACE VIEW expected AS SELECT * FROM '{self.input}/expected.parquet'")
        c.execute("CREATE OR REPLACE VIEW documents AS SELECT doc_id, text FROM expected WHERE NOT injected")
        c.execute(f"CREATE OR REPLACE TABLE exp_lsh AS {oracle_sql()['minhash_lsh_pairs']}")

    def job(self, out, tr):
        from pyspark.sql import functions as F

        from dpo_ocr_spark.extract import extract_pages
        from dpo_ocr_spark.ops.dedup import (
            lsh_pairs_from_signatures,
            md5_int63,
            minhash_signatures,
        )
        from dpo_ocr_spark.sources.warc import (
            list_warc_paths,
            read_warc,
            read_wet,
            warc_pages,
            write_wet,
        )

        spark = self.spark
        with tr.span("sources.read"):
            records = tr.boundary(
                read_warc(spark, list_warc_paths(spark, f"{self.input}/warc")), "records"
            )
        with tr.span("extract"):
            extracted = tr.boundary(extract_pages(warc_pages(records)), "extracted")
        with tr.span("sources.write"):
            write_wet(extracted, f"{out}/wet").write.parquet(f"{out}/wet_index")
        # the dedup stage reads the committed WET, as a downstream job
        # would; quarantined captures have no text and are left out
        with tr.span("dedup"):
            wet = read_wet(spark, list_warc_paths(spark, f"{out}/wet", ".warc.wet.gz"))
            key = F.concat_ws("#", "url", F.expr("CAST(unix_micros(warc_ts) AS STRING)"))
            wet.filter(F.col("text") != "").select(
                md5_int63(key).alias("doc_id"), "text"
            ).write.parquet(f"{out}/docs/documents.parquet")
            with tr.span("dedup.signatures"):
                sig = tr.boundary(minhash_signatures(spark, f"{out}/docs"), "signatures")
            with tr.span("dedup.lsh"):
                lsh_pairs_from_signatures(sig).write.parquet(f"{out}/lsh")

    def check(self, out):
        c = self.con
        idx = _parquet(f"{out}/wet_index")
        # The dedup stage read the committed WET back with read_wet and kept
        # every non-empty text, so its documents table is the WET round
        # trip.  Wrong keys fail their capture; a wrong candidate pair fails
        # both of its captures.
        keys = _diff(
            "url, warc_ts, empty",
            "(SELECT url, warc_ts, injected AS empty FROM expected)",
            f"(SELECT url, warc_ts, payload_len = 0 AS empty FROM {idx})",
            "url, warc_ts",
        )
        text = _diff(
            "doc_id, text", "documents", _parquet(f"{out}/docs/documents.parquet"), "doc_id"
        )
        lsh = _diff("doc_a, doc_b", "exp_lsh", _parquet(f"{out}/lsh"), "doc_a, doc_b")
        return _bad_keys(
            c,
            keys,
            f"""SELECT url, warc_ts FROM expected WHERE doc_id IN (
                    SELECT doc_id FROM ({text})
                    UNION ALL SELECT doc_a FROM ({lsh}) UNION ALL SELECT doc_b FROM ({lsh}))""",
            key="url, warc_ts",
        )

    def layer_counts(self, out, tr):
        from pyspark.sql import functions as F

        from dpo_ocr_spark.ops.dedup import drop_stats

        c = self.con
        idx = _parquet(f"{out}/wet_index")
        n, wet_text = c.execute(f"SELECT count(*), sum(payload_len) FROM {idx}").fetchone()
        archive = sum(
            os.path.getsize(os.path.join(f"{self.input}/warc", f))
            for f in os.listdir(f"{self.input}/warc")
            if f.endswith(".warc.gz")
        )
        wet = sum(
            os.path.getsize(os.path.join(f"{out}/wet", f))
            for f in os.listdir(f"{out}/wet")
            if f.endswith(".warc.wet.gz")
        )
        quarantined = c.execute(f"SELECT count(*) FROM {idx} WHERE payload_len = 0").fetchone()[0]
        payload, tokens = tr.frames["extracted"].agg(F.sum("n_bytes"), F.sum("n_tokens")).first()
        return {
            "extract.records": n,
            "extract.payload_mb": payload / 1e6,
            "extract.tokens": tokens,
            "extract.quarantined": quarantined,
            "sources.archive_mb": archive / 1e6,
            "sources.wet_mb": wet / 1e6,
            "sources.wet_bytes_per_text_byte": wet / max(wet_text or 0, 1),
            "dedup.lsh_candidates": c.execute(
                f"SELECT count(*) FROM {_parquet(f'{out}/lsh')}"
            ).fetchone()[0],
            "dedup.hot_group_drops": drop_stats("minhash_lsh")["dropped_groups"],
        }


WORKLOADS = {w.name: w for w in (PagesToBlocks, WarcToWet)}
