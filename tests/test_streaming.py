"""Structured Streaming wrapper: stream result ≡ batch result."""

from __future__ import annotations
from sf_fixture import SD


def test_stream_equals_batch(tmp_path, spark):
    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.pipeline import run_extraction
    from dpo_ocr_spark.streaming.stream import stream_extract

    src = str(tmp_path / "src")
    build_web_pages(spark, SD, partitions=4).write.parquet(src)
    out = stream_extract(
        spark, src, str(tmp_path / "ckpt"), str(tmp_path / "sink")
    )
    got = sorted((r.url, r.text) for r in out.select("url", "text").collect())
    want = sorted(
        (r.url, r.text)
        for r in run_extraction(spark, SD).select("url", "text").collect()
    )
    assert got == want  # byte-identical text through the streaming path


def test_stateful_dedup_across_restarts(tmp_path, spark):
    """applyInPandasWithState first-seen dedup: each url emitted exactly
    once across micro-batches AND across checkpoint restarts."""
    from pyspark.sql import functions as F

    from dpo_ocr_spark.corpus import build_web_pages
    from dpo_ocr_spark.streaming.stream import stream_dedup_extract

    pages = build_web_pages(spark, SD, partitions=4)
    did = F.substring("url", -6, 6).cast("int")
    src = str(tmp_path / "src")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    # phase 1: docs 0..49
    pages.filter(did < 50).write.mode("append").parquet(src)
    stream_dedup_extract(spark, src, ckpt, sink)
    n1 = spark.read.parquet(sink).count()
    assert n1 == 50

    # phase 2: docs 25..74 appended as NEW files — 25..49 are duplicates
    # the state store must drop after the restart
    pages.filter((did >= 25) & (did < 75)).write.mode("append").parquet(src)
    stream_dedup_extract(spark, src, ckpt, sink)
    out = spark.read.parquet(sink)
    assert out.count() == 75
    assert out.select("url").distinct().count() == 75


def test_streaming_sessionize_cross_batch_and_restart(spark, tmp_path):
    """Sessions spanning micro-batches must merge via state, and a second
    availableNow run over extra files must resume from the checkpoint:
    total output over both runs == batch sessions minus each user's final
    open session."""
    import datetime as dt
    import time

    from dpo_ocr_spark.ops.events import GAP_S

    from dpo_ocr_spark.streaming.stream import (
        MAX_FILES_PER_TRIGGER,
        stream_sessionize,
    )

    E0 = dt.datetime(2024, 1, 1)
    ts = lambda s: E0 + dt.timedelta(seconds=s)  # noqa: E731

    def write_chunk(name, rows):
        import glob
        import shutil

        (tmp_path / "src").mkdir(exist_ok=True)
        stage = tmp_path / f"_stage_{name}"
        spark.createDataFrame(
            [(i, t, u, "c", 1.0, "{}") for i, (t, u) in enumerate(rows)],
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        # flatten: the file source lists leaf files of src/, not subdirs
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        shutil.copy(part, str(tmp_path / "src" / f"{name}.parquet"))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    # chunk order is chronological; the first MAX_FILES_PER_TRIGGER
    # chunks fill micro-batch 1, so user 1's first session SPANS the
    # micro-batch boundary (gap < GAP_S across it)
    first = [(ts(0), 2)] + [
        (ts(300 * i), 1) for i in range(MAX_FILES_PER_TRIGGER - 1)
    ]
    for i, row in enumerate(first):
        write_chunk(f"a{i}", [row])
    write_chunk("b", [(ts(1200), 1), (ts(1200 + GAP_S + 1), 1)])
    ck = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    stream_sessionize(spark, str(tmp_path / "src"), ck, sink)
    run1 = {tuple(r) for r in spark.read.parquet(sink).collect()}
    # user 1: session {0,300,...,1200} closed by the post-gap event;
    # user 2's only session and user 1's trailing session remain open
    e_us = int((E0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    assert run1 == {(1, e_us, e_us + 1_200_000_000, MAX_FILES_PER_TRIGGER)}

    # restart with a NEW chunk: closes user 1's trailing session and
    # user 2's session via later events
    write_chunk("c", [(ts(1200 + 3 * GAP_S), 1), (ts(3 * GAP_S), 2)])
    stream_sessionize(spark, str(tmp_path / "src"), ck, sink)
    run2 = {
        tuple(r) for r in spark.read.parquet(sink).collect()
    } - run1  # resumed run appends only the newly closed sessions
    start1 = e_us + (1200 + GAP_S + 1) * 1_000_000
    assert run2 == {
        (1, start1, start1, 1),  # closed by the ts(1200+3*GAP_S) event
        (2, e_us, e_us, 1),  # closed by user 2's late event
    }


def test_stream_interval_join_boundaries(spark, tmp_path):
    """Pair semantics: strict lower bound (no self/equal-ts pairs),
    CLOSED upper bound (exactly +10min matches), per-user isolation."""
    import datetime as dt

    from dpo_ocr_spark.streaming.stream import stream_interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (0, ts(0), 1, "click", 1.0, "{}"),
        (1, ts(600), 1, "buy", 1.0, "{}"),     # exactly +10min -> match
        (2, ts(601), 1, "buy", 1.0, "{}"),     # 601s from 0 -> no; 1s from 1 -> match
        (3, ts(0), 2, "click", 1.0, "{}"),     # other user, same ts: no pair
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "src"))
    out = stream_interval_join(
        spark, str(tmp_path / "src"), str(tmp_path / "ckpt"),
        str(tmp_path / "sink"),
    )
    got = {
        (r.src_event_id, r.dst_event_id): r.dst_type for r in out.collect()
    }
    assert got == {(0, 1): "buy", (1, 2): "buy"}
