"""Scale layer: salting, lineage, resume; spark-submit job end-to-end."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

SD = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_salted_repartition_balances_hot_host(spark):
    """~10% of urls share one host (FIXTURES §1); salting on xxhash64(url)
    must spread them uniformly — no partition may hold a hot-host clump."""
    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.scale import salted_repartition

    pages = salted_repartition(build_web_pages(spark, SD), 16)
    per_part = (
        pages.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("url").contains("host-hot"), 1).otherwise(0)
            ).alias("hot"),
        )
        .collect()
    )
    ns = [r.n for r in per_part]
    assert max(ns) <= 2 * (sum(ns) / len(ns)), "partition sizes skewed"
    hots = [r.hot for r in per_part]
    assert max(hots) <= 10, f"hot host clumped: {hots}"


def test_lineage_counts_cover_input(spark):
    from dpo_ocr_spark.pipeline import run_extraction
    from dpo_ocr_spark.scale import with_lineage

    extracted = run_extraction(spark, SD, salt_partitions=8)
    _, lineage = with_lineage(extracted)
    rows = lineage.collect()
    assert sum(r.input_count for r in rows) == 500
    assert all(r.input_bytes > 0 for r in rows)
    assert all(r.checkpoint_watermark is not None for r in rows)


def test_resume_filter_skips_done_urls(spark):
    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.scale import resume_filter

    pages = build_web_pages(spark, SD).cache()
    done = pages.limit(0).select("url")  # empty → everything pending
    assert resume_filter(pages, done).count() == 500
    done = pages.select("url").filter(F.col("url").contains("host-hot"))
    n_done = done.count()
    remaining = resume_filter(pages, done).count()
    assert remaining == 500 - n_done


def test_resume_filter_keys_results_by_capture(spark):
    """A capture is (url, warc_ts): resuming against the results table
    skips only the done capture, so an unprocessed re-crawl of a done url
    still runs (a null warc_ts matches null-safely).  A url-only frame
    keeps its meaning: every capture of a listed url is done."""
    from datetime import datetime

    from dpo_ocr_spark.scale import resume_filter

    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    pages = spark.createDataFrame(
        [("u", t1), ("u", t2), ("v", None)], "url string, warc_ts timestamp"
    )
    done = spark.createDataFrame(
        [("u", t1, "text"), ("v", None, "text")],
        "url string, warc_ts timestamp, text string",
    )
    left = resume_filter(pages, done).collect()
    assert [(r.url, r.warc_ts) for r in left] == [("u", t2)]
    assert resume_filter(pages, done.select("url")).count() == 0


def test_resume_bucket_matches_spark_partition_id(spark):
    """Pin the Spark internal resume depends on: after salted_repartition(n),
    spark_partition_id == pmod(hash(xxhash64(url)), n) for every row.  If a
    Spark upgrade changes HashPartitioning this fails loudly instead of
    resume silently mis-bucketing."""
    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.scale import resume_bucket, salted_repartition

    pages = salted_repartition(build_web_pages(spark, SD), 16)
    mismatches = (
        pages.withColumn("pid", F.spark_partition_id())
        .withColumn("bucket", resume_bucket(16))
        .filter(F.col("pid") != F.col("bucket"))
        .count()
    )
    assert mismatches == 0


def test_resume_filter_lineage_schema_is_content_based(spark):
    """A LINEAGE-schema frame (no urls) must resume by recomputed partition
    id: exactly the done partitions' rows are skipped, failed partitions'
    rows all survive — regardless of timestamps."""
    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.extract import extract_pages
    from dpo_ocr_spark.scale import (
        resume_bucket,
        resume_filter,
        salted_repartition,
        with_lineage,
    )

    pages = build_web_pages(spark, SD).cache()
    extracted = extract_pages(salted_repartition(pages, 8))  # the job path
    _, lineage = with_lineage(extracted, num_buckets=8)
    lineage = lineage.cache()  # LINEAGE schema only — no urls anywhere

    # pretend partitions {0,1,2} committed, the rest failed
    done = lineage.filter(F.col("partition_id") < 3)
    n_done_rows = (
        pages.withColumn("b", resume_bucket(8)).filter(F.col("b") < 3).count()
    )
    remaining = resume_filter(pages, done)
    assert remaining.count() == 500 - n_done_rows
    # every remaining row belongs to a not-done partition
    assert (
        remaining.withColumn("b", resume_bucket(8))
        .filter(F.col("b") < 3)
        .count()
        == 0
    )
    # empty lineage → everything pending (not nothing)
    assert resume_filter(pages, lineage.limit(0)).count() == 500


def test_resume_filter_refuses_unresumable_frames(spark):
    """Neither url nor (partition_id, num_buckets) → loud error, never a
    silent watermark filter; mixed num_buckets → loud error."""
    import pytest

    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.scale import resume_filter

    pages = build_web_pages(spark, SD)
    wm_only = pages.select(F.col("warc_ts").alias("checkpoint_watermark")).limit(5)
    with pytest.raises(ValueError, match="refusing to guess"):
        resume_filter(pages, wm_only)
    mixed = spark.createDataFrame(
        [(0, 8), (1, 16)], "partition_id int, num_buckets int"
    )
    with pytest.raises(ValueError, match="num_buckets"):
        resume_filter(pages, mixed)


def test_spark_submit_job_end_to_end(tmp_path, spark):
    """The actual deployment shape: package → run the job script in a
    fresh interpreter → results + lineage written → resume run is a
    no-op.  The job's Python workers fork from the package's daemon: a
    sitecustomize on the job's PYTHONPATH records the command line of
    every interpreter the job starts."""
    from dpo_ocr_spark.corpus import build_web_pages

    src = str(tmp_path / "in")
    build_web_pages(spark, SD, partitions=4).write.parquet(src)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    zipout = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "make_pyfiles.py"),
         str(tmp_path / "dist")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert zipout.endswith("dpo_ocr_spark.zip")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_extract.py"),
        "--input", src, "--output", out, "--lineage", lin,
        "--salt-partitions", "8",
    ]
    argv_dir = tmp_path / "argv"
    argv_dir.mkdir()
    (tmp_path / "site").mkdir()
    (tmp_path / "site" / "sitecustomize.py").write_text(
        "import os, sys\n"
        f"with open(os.path.join({str(argv_dir)!r}, str(os.getpid())), 'w') as f:\n"
        "    f.write(' '.join(sys.orig_argv))\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([str(tmp_path / "site"), REPO])
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    started = [p.read_text() for p in argv_dir.iterdir()]
    assert any(
        " -m dpo_ocr_spark.worker_daemon" in a for a in started
    ), started
    assert not any(" -m pyspark." in a for a in started), started
    assert spark.read.parquet(out).count() == 500
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("input_count")).collect()[0][0] == 500
    # resume run with the extraction output as completed-urls lineage
    done = spark.read.parquet(out).select("url")
    done_path = str(tmp_path / "done")
    done.write.parquet(done_path)
    r2 = subprocess.run(
        cmd + ["--resume-from", done_path],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    # everything was done → no new rows appended
    assert spark.read.parquet(out).count() == 500
    # the DOCUMENTED lineage-path resume (no urls — content-based
    # partition-id recompute): also a no-op when all partitions committed
    r3 = subprocess.run(
        cmd + ["--resume-from", lin],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    assert spark.read.parquet(out).count() == 500
