"""Streaming window operators.

The reference processes its event-like data (checkins) strictly as
batch history (/root/reference/transformation.py:240-280, SURVEY.md
§2.9). Here the same aggregation is defined once and runs in BOTH
modes: the transform function takes any DataFrame — a batch read or a
readStream — because Structured Streaming's contract is exactly that
the query is mode-agnostic.

Late data: `tumbling_event_counts` applies a watermark when the input
is streaming, so state for closed windows is dropped instead of
growing without bound — the thing that matters at 100 TB/day event
volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def tumbling_event_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type.

    Works on batch and streaming inputs; the watermark is only applied
    (and only meaningful) when streaming.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    price = F.col("value").cast("decimal(18,2)")
    return (
        src.groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(price).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts per event_type: each event lands in
    window_len/slide overlapping windows. Mode-agnostic like
    tumbling_event_counts."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_len, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows (gap-based): a session closes after
    `gap` of inactivity. Uses Spark's native session_window — the
    streaming-stateful generalization of the batch lag/cumsum
    sessionization (sql_window_sessionize)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
