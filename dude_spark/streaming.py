"""Structured Streaming surfaces (SURVEY §2.10).

The v1 crawl loop is iterative batch (chosen for snapshot checkpointing and
deterministic ordering — SURVEY §2.10, §7); these are the Structured
Streaming counterparts for the two places a stream genuinely fits:

- :func:`stream_crawl_results` — **continuous result ingestion**: the
  crawl's per-round committed result directories (``state_dir/extracted/
  round=N`` — one micro-batch per round ≙ the reference's save-per-page
  stream, ``dude/base.py:125-139``) drained with a file-source stream into
  a sink table. ``availableNow`` processes everything committed so far and
  stops; rerunning resumes from the stream checkpoint — exactly-once
  append of crawl output into a warehouse table while the crawl keeps
  running.
- :func:`windowed_event_counts` — watermarked event-time windowed
  aggregation over an event stream (late data dropped past the watermark):
  the standard streaming-analytics op a training-data pipeline runs next
  to the crawl (rates, per-window activity).

Both run on file sources so they work identically against a directory an
Iceberg/cloud writer appends to.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import _local_relation


def stream_crawl_results(
    spark: SparkSession,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: Optional[str] = None,
) -> int:
    """Drain all committed crawl result rounds into ``out_dir`` (parquet),
    exactly-once, via an ``availableNow`` file-source stream.

    Returns the number of micro-batches processed. Safe to call repeatedly
    while a crawl is appending rounds — the stream checkpoint remembers
    which files were already ingested.
    """
    src = os.path.join(state_dir, "extracted")
    # schema from the committed batches (file streams require an explicit
    # schema; includes the round=N partition column)
    schema = spark.read.parquet(src).schema
    checkpoint_dir = checkpoint_dir or os.path.join(state_dir, "_stream_ckpt")
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.col("kind") == "data")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return q.lastProgress["batchId"] + 1 if q.lastProgress else 0


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    sink_table: str = "event_windows",
) -> DataFrame:
    """Event-time windowed counts with a watermark, drained ``availableNow``
    into an in-memory sink table; returns the completed result.

    Output: (user_bucket, window_start bigint epoch, n_events, total_value).

    On an unbounded production stream this runs in ``append`` mode, where
    the watermark finalizes windows older than max(ts) - watermark and
    evicts their state — state stays O(active windows), not O(history). On
    a FINITE drain the trailing windows never pass the watermark (nothing
    later arrives to advance it), so this demo emits in ``complete`` mode
    to return every window; the watermark declaration and the plan are the
    production ones.
    """
    schema = spark.read.parquet(events_path).schema
    # the file streaming source requires a DIRECTORY (it tails new files);
    # a single-file input is staged behind a symlink dir
    if os.path.isfile(events_path):
        import tempfile

        d = tempfile.mkdtemp(prefix="stream_events_")
        os.symlink(
            os.path.abspath(events_path),
            os.path.join(d, os.path.basename(events_path)),
        )
        events_path = d
    ev = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    q = (
        _windowed_agg(ev, window)
        .writeStream.format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .outputMode("complete")
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def _windowed_agg(ev: DataFrame, window: str) -> DataFrame:
    return (
        ev.groupBy(
            F.window("ts", window).alias("w"),
            (F.col("user_id") % 10).alias("user_bucket"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_bucket",
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def windowed_event_counts_append(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """The PRODUCTION shape of :func:`windowed_event_counts`: ``append``
    mode into a durable file sink.

    A window row is written exactly once — when the watermark (max event
    time seen minus ``watermark``) passes the window's end, the window
    finalizes, its row is appended, and its aggregation state is EVICTED.
    Rows arriving later than the watermark are dropped and can never
    resurrect or duplicate a finalized window, so state is O(active
    windows) and the sink is append-only — the property that makes this
    run indefinitely at 100 TB where the ``complete``/memory demo would
    hold every window ever seen on the driver.

    Call repeatedly (``availableNow`` drains) as the events directory
    grows; the stream checkpoint carries the watermark and window state
    across calls. Returns the sink as a batch DataFrame (empty schema-less
    reads return an empty frame).

    Eviction semantics are pinned by tests/test_streaming.py::
    test_append_mode_watermark_eviction (finalize-once + late-drop).
    """
    schema = spark.read.parquet(events_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    q = (
        _windowed_agg(ev, window)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(out_dir)
    except Exception:
        return _local_relation(spark, [], _windowed_agg(
            spark.read.parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp")), window).schema)
