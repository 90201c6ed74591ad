"""Watermarked event-time windowed aggregation (Structured Streaming).

The canonical late-data streaming shape the engine was missing next to
the file-progress (`incremental.py`) and keyed-state (`stateful.py`)
pieces: tumbling event-time windows with a watermark, append output
mode, and an exactly-once file sink.

Semantics pinned by tests/test_streaming_window.py:

* a window is EMITTED (appended to the sink) only once the watermark —
  max event time seen, minus the delay — passes its end; until then it
  stays in state;
* an event arriving AFTER the watermark passed its window's end is
  DROPPED (too late — the window already finalized); the emitted row
  never changes and never duplicates;
* the watermark persists in the checkpoint across restarts, so a
  late event in a NEW run against the same checkpoint is still dropped;
* re-running with no new files appends nothing (file-source progress +
  sink commit log = exactly-once).

Scale shape: the aggregation state is (window × event_type)-sized and
hash-partitioned by the grouping key; the watermark bounds state size
— without it, event-time state grows forever (the reason watermarks
exist). `Trigger.AvailableNow` drains pending files then runs the
no-data micro-batch that evicts/flushes finalized windows before
stopping.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: The driver testdata events-table shape (file streams need a schema).
EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")

WINDOW = "10 minutes"
WATERMARK = "30 minutes"


def run_windowed_counts(spark: SparkSession, input_dir: str, out_dir: str,
                        checkpoint_dir: str,
                        window: str = WINDOW,
                        watermark: str = WATERMARK) -> int:
    """Drain pending event files into finalized-window rows; returns the
    total finalized rows in the sink after the run."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    agg = (stream.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("win"), "event_type")
           .agg(F.count("*").cast("long").alias("n"),
                F.round(F.sum("value"), 4).alias("total"))
           .select(F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"),
                   "event_type", "n", "total"))
    q = (agg.writeStream
         .trigger(availableNow=True)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .format("parquet")
         .option("path", out_dir)
         .start())
    q.awaitTermination()
    try:
        return spark.read.parquet(out_dir).count()
    except Exception:  # no window finalized yet — sink dir still empty
        return 0
