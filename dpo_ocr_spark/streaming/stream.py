"""Structured Streaming wrapper over the extraction stage (SURVEY.md §2.9).

The reference is strictly batch (incremental batches via doc_version CLI
args, run_gvision_ocr.py:54-64); this thin wrapper is the stretch-goal
re-expression: the SAME ``extract_pages`` transformation runs as a
micro-batch stream with ``Trigger.AvailableNow`` (drain-everything-then-
stop — the modern incremental-batch idiom), next to the event-stream
operators (windowed counts, sessionization, interval join).  The
extraction and sessionization drains read at most
``MAX_FILES_PER_TRIGGER`` source files per micro-batch.

The reference's semantics require no stateful operators; the engine adds
them anyway: ``dedup_first_seen`` (applyInPandasWithState) drops
duplicate urls across micro-batches and restarts on the training-data
ingest path, and ``stream_sessionize`` keeps each user's open session in
the state store.  Resumability is checkpoint-based (the stream
checkpoint plays the role Iceberg snapshots play in the batch path), so
the resumable drains (``stream_dedup_extract``, ``stream_sessionize``)
write a durable parquet sink; a memory sink cannot recover from a
checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..extract import extract_pages
from ..schemas import WEB_PAGES

WATERMARK = "1 hour"  # event-time lateness the windowed counts tolerate
JOIN_LEAD = "10 minutes"  # stream_interval_join's follow-up window
MAX_FILES_PER_TRIGGER = 4  # source files per micro-batch


def stream_extract(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink_table: str = "stream_extracted",
) -> None:
    """Drain ``source_dir`` (parquet, WEB_PAGES schema) through the
    extraction stage into the memory table ``sink_table``, exactly-once
    per file via the checkpoint; returns after completion (AvailableNow).

    A memory sink CANNOT recover from a checkpoint, so this is for ad-hoc
    inspection with a fresh checkpoint; ``stream_dedup_extract`` is the
    resumable drain (durable parquet sink: re-running with the same
    checkpoint processes only new files).
    """
    pages = (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(source_dir)
    )
    extracted = extract_pages(pages)
    q = (
        extracted.writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .format("memory")
        .queryName(sink_table)
        .start()
    )
    q.awaitTermination()


def dedup_first_seen(pages: DataFrame) -> DataFrame:
    """Cross-micro-batch URL dedup: emit each url's FIRST-seen page only,
    across batches and across restarts — the custom stateful streaming
    operator (``applyInPandasWithState``) of a training-data ingest
    pipeline (exact dedup at the door, before the expensive decode).

    State: one empty-marker row per url key, persisted in the state store
    under the stream checkpoint (restart-safe; pinned by
    tests/test_streaming.py). Scale: state is keyed by url — at 10¹² docs
    use the RocksDB state store provider and a processing-time timeout to
    TTL-bound resident keys; both are config, not code changes.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = [f.name for f in WEB_PAGES.fields]

    def first_seen(key, pdfs, state: GroupState):
        if state.exists:
            # url already emitted in an earlier batch/run: drop all rows
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][cols]
        state.update((1,))
        if first is not None:
            yield first

    return pages.groupBy("url").applyInPandasWithState(
        first_seen,
        outputStructType=WEB_PAGES,
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_extract(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink_dir: str,
) -> None:
    """Ingest-dedup variant of ``stream_extract``: first-seen-url pages
    only, then the extraction stage, durable parquet sink (resumable)."""
    pages = (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(source_dir)
    )
    q = (
        extract_pages(dedup_first_seen(pages))
        .writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink_dir)
        .start()
    )
    q.awaitTermination()


EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def stream_window_counts(
    spark,
    src_dir: str,
    checkpoint_dir: str,
    table: str,
):
    """Watermarked tumbling-window aggregation through a REAL stream:
    readStream → withWatermark → 1h window groupBy → append-mode memory
    sink, availableNow drain.

    Append mode emits a window only once the watermark (max event time −
    1h) passes its end — the late-data-finalization semantics; the final
    no-data micro-batch flushes state before termination.  Outputs are
    integer-exact (epoch-us window start, floor(value·100) sums) so a SQL
    oracle re-derives them including the watermark cutoff.
    """
    from pyspark.sql import functions as F

    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    # watermarks require TIMESTAMP (an absolute instant); rebuild one from
    # the NTZ wall time tz-independently: NTZ -> epoch-us integer (pure
    # arithmetic) -> timestamp_micros (UTC instant).  Window boundaries and
    # unix_micros(start) are then session-timezone-proof.
    instant = F.timestamp_micros(
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    )
    agg = (
        events.withColumn("t", instant)
        .withWatermark("t", WATERMARK)
        .groupBy(F.window("t", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_x100_sum"
            ),
        )
        .select(
            F.unix_micros("w.start").alias("start_us"),
            "event_type",
            "n_events",
            "value_x100_sum",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SESSION_OUT = (
    "user_id long, start_us long, end_us long, n_events long"
)


def sessionize_stream(events):
    """Custom stateful streaming operator: gap-based sessionization with
    ``applyInPandasWithState`` — the per-user open session lives in the
    state store across micro-batches (and restarts); a session is EMITTED
    when a later event closes it (gap > GAP_S), so the stream yields
    exactly the batch sessions minus each user's final open session
    (which has no closing event; the batch-equivalence is pinned in
    tests and the oracle).

    Ordering contract: event time must be non-decreasing per user across
    micro-batches (within a batch the operator sorts) — the file-staging
    here satisfies it; a production deployment fronts this with a
    watermark re-ordering buffer or an event-time timeout that flushes
    stale opens (state-store TTL), config not code.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..ops.events import GAP_S

    gap_us = GAP_S * 1_000_000

    def sessions(key, pdfs, state: GroupState):
        ts: list[int] = []
        for pdf in pdfs:
            ts.extend(int(t) for t in pdf["t_us"])
        ts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in ts:
            if last is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                closed.append((key[0], start, last, n))
                start, last, n = t, t, 1
            else:
                last = t
                n += 1
        if start is not None:
            state.update((start, last, n))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "start_us", "end_us", "n_events"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        sessions,
        outputStructType=SESSION_OUT,
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(spark, src_dir: str, checkpoint_dir: str, sink_dir: str):
    """readStream → stateful sessionization → durable parquet sink at
    ``sink_dir``, availableNow drain: the CHECKPOINT-RESUMABLE path.
    More than ``MAX_FILES_PER_TRIGGER`` source files span several
    micro-batches; files are consumed oldest-mtime first, so
    chronologically staged chunks preserve per-user event order."""
    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(src_dir)
        .select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("t_us"),
        )
    )
    q = (
        sessionize_stream(events)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_interval_join(
    spark,
    src_dir: str,
    checkpoint_dir: str,
    table: str,
):
    """Stream-stream self INTERVAL JOIN: each event matched to the same
    user's follow-up events within ``JOIN_LEAD`` — the attribution/funnel
    shape (click → purchase) every event pipeline needs.

    Both sides carry watermarks and the join condition is a closed time
    range on the event-time columns, so Spark derives a state-eviction
    bound (state per side ≈ watermark delay + JOIN_LEAD, NOT unbounded) — the
    property that keeps a stream-stream join alive at 10^12 events.
    Inner joins emit every match regardless of watermark; the oracle is
    therefore the plain SQL interval self-join when the source drains in
    one micro-batch (the registered query stages a single parquet file).
    Outputs are epoch-us integers — engine-stringification-proof.
    """
    instant_of = lambda col: F.timestamp_micros(  # noqa: E731
        F.expr(
            "timestampdiff(MICROSECOND,"
            f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    )
    a = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src_dir)
        .select(
            instant_of("ts").alias("a_t"),
            F.col("event_id").alias("src_event_id"),
            "user_id",
        )
        .withWatermark("a_t", WATERMARK)
    )
    b = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src_dir)
        .select(
            instant_of("ts").alias("b_t"),
            F.col("event_id").alias("dst_event_id"),
            F.col("user_id").alias("b_user"),
            F.col("event_type").alias("dst_type"),
        )
        .withWatermark("b_t", WATERMARK)
    )
    joined = a.join(
        b,
        F.expr(
            "user_id = b_user AND b_t > a_t"
            f" AND b_t <= a_t + interval {JOIN_LEAD}"
        ),
    ).select(
        "user_id",
        "src_event_id",
        "dst_event_id",
        F.unix_micros("a_t").alias("src_us"),
        F.unix_micros("b_t").alias("dst_us"),
        "dst_type",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
