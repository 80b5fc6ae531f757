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
the state store.

Every drain ends in ``_drain``: one append-mode parquet sink whose
checkpoint makes it resumable (the stream checkpoint plays the role
Iceberg snapshots play in the batch path) — re-running a drain with the
same checkpoint and sink processes only new source files.  Each drain
returns the sink's committed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..extract import extract_pages
from ..ops.events import _epoch_us
from ..schemas import WEB_PAGES

WATERMARK = "1 hour"  # event-time lateness the windowed counts tolerate
JOIN_LEAD = "10 minutes"  # stream_interval_join's follow-up window
MAX_FILES_PER_TRIGGER = 4  # source files per micro-batch


def _drain(frame: DataFrame, checkpoint_dir: str, sink_dir: str) -> DataFrame:
    """Run ``frame`` availableNow into an append-mode parquet sink at
    ``sink_dir`` (checkpoint at ``checkpoint_dir``), wait for the run to
    end, and return the sink's committed rows."""
    (
        frame.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return frame.sparkSession.read.schema(frame.schema).parquet(sink_dir)


def _pages(spark: SparkSession, src_dir: str) -> DataFrame:
    """WEB_PAGES parquet source, ``MAX_FILES_PER_TRIGGER`` files per
    micro-batch."""
    return (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(src_dir)
    )


def stream_extract(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, sink_dir: str
) -> DataFrame:
    """Drain ``src_dir`` (parquet, WEB_PAGES schema) through the
    extraction stage, exactly-once per file via the checkpoint."""
    pages = _pages(spark, src_dir)
    return _drain(extract_pages(pages), checkpoint_dir, sink_dir)


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
    spark: SparkSession, src_dir: str, checkpoint_dir: str, sink_dir: str
) -> DataFrame:
    """Ingest-dedup variant of ``stream_extract``: first-seen-url pages
    only, then the extraction stage."""
    pages = dedup_first_seen(_pages(spark, src_dir))
    return _drain(extract_pages(pages), checkpoint_dir, sink_dir)


EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def stream_window_counts(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, sink_dir: str
) -> DataFrame:
    """Watermarked tumbling-window aggregation through a REAL stream:
    readStream → withWatermark → 1h window groupBy → append-mode sink.

    Append mode emits a window only once the watermark (max event time −
    1h) passes its end — the late-data-finalization semantics; the final
    no-data micro-batch flushes state before termination.  Outputs are
    integer-exact (epoch-us window start, floor(value·100) sums) so a SQL
    oracle re-derives them including the watermark cutoff.
    """
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    # watermarks require TIMESTAMP (an absolute instant); rebuild one from
    # the NTZ wall time tz-independently: NTZ -> epoch-us integer (pure
    # arithmetic) -> timestamp_micros (UTC instant).  Window boundaries and
    # unix_micros(start) are then session-timezone-proof.
    agg = (
        events.withColumn("t", F.timestamp_micros(_epoch_us("ts")))
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
    return _drain(agg, checkpoint_dir, sink_dir)


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


def stream_sessionize(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, sink_dir: str
) -> DataFrame:
    """readStream → stateful sessionization → sink.  More than
    ``MAX_FILES_PER_TRIGGER`` source files span several micro-batches;
    files are consumed oldest-mtime first, so chronologically staged
    chunks preserve per-user event order."""
    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(src_dir)
        .select("user_id", _epoch_us("ts").alias("t_us"))
    )
    return _drain(sessionize_stream(events), checkpoint_dir, sink_dir)


def stream_interval_join(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, sink_dir: str
) -> DataFrame:
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
    a = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src_dir)
        .select(
            F.timestamp_micros(_epoch_us("ts")).alias("a_t"),
            F.col("event_id").alias("src_event_id"),
            "user_id",
        )
        .withWatermark("a_t", WATERMARK)
    )
    b = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src_dir)
        .select(
            F.timestamp_micros(_epoch_us("ts")).alias("b_t"),
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
    return _drain(joined, checkpoint_dir, sink_dir)
