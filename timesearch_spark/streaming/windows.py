"""Event-time windowed aggregation over streams (SURVEY §2-I north-star).

The reference has no event-time windows — its only event-time construct
is a hand-rolled monotone lower bound (get_submissions.py:52-66) and a
cross-page dedup set (pushshift.py:119-145).  These are the real
Structured Streaming constructs the engine adds:

- tumbling / sliding counts with watermarked late-data handling;
- session windows (native ``session_window`` — gap-based, the streaming
  form of operators.windows.sessionize);
- watermarked ``dropDuplicates`` — the exactly-once-per-key form of the
  reference's overlap-re-read + id-set dedup (I2).

All aggregates are keyed on (window, key): partial aggregation happens
map-side per micro-batch, and state-store size is bounded by the
watermark horizon — the knobs that matter at 100 TB/day stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_event_time(stream: DataFrame, ts_col: str = "created") -> DataFrame:
    """unix-seconds column → ``event_time`` timestamp."""
    return stream.withColumn("event_time", F.timestamp_seconds(F.col(ts_col)))


def tumbling_counts_stream(
    stream: DataFrame,
    duration: str = "1 hour",
    key: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts per key."""
    ev = with_event_time(stream).withWatermark("event_time", "2 hours")
    return (
        ev.groupBy(F.window("event_time", duration).alias("w"), F.col(key))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col(key), F.col("n"))
    )


def sliding_counts_stream(
    stream: DataFrame,
    duration: str = "1 hour",
    slide: str = "15 minutes",
    key: str = "event_type",
) -> DataFrame:
    """Watermarked sliding-window counts per key."""
    ev = with_event_time(stream).withWatermark("event_time", "2 hours")
    return (
        ev.groupBy(F.window("event_time", duration, slide).alias("w"), F.col(key))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col(key), F.col("n"))
    )


def session_counts_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    key: str = "author",
) -> DataFrame:
    """Native gap-based session windows per key (streaming form of
    operators.windows.sessionize)."""
    ev = with_event_time(stream).withWatermark("event_time", "2 hours")
    return (
        ev.groupBy(F.session_window("event_time", gap).alias("w"), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col(key),
            F.col("n_events"),
        )
    )


def dedup_stream(
    stream: DataFrame,
    key: str = "idstr",
    ts_col: str = "created",
) -> DataFrame:
    """Watermarked exactly-once-per-key dedup (I2's overlap + id-set,
    with bounded state instead of an unbounded driver set).

    ``dropDuplicatesWithinWatermark``, NOT ``dropDuplicates([key])``:
    the plain form only expires state when the event-time column is part
    of the dedup subset — keyed on id alone it would keep one state
    entry per distinct key FOREVER, the exact unbounded growth this
    function exists to avoid.  The WithinWatermark variant evicts each
    key once the watermark passes its event time; duplicates arriving
    inside the watermark window (the reference's 1-second pagination
    overlap, plus late replays) still dedup."""
    return with_event_time(stream, ts_col).withWatermark(
        "event_time", "1 hour"
    ).dropDuplicatesWithinWatermark([key])
