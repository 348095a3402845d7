"""Event-time window aggregations (SURVEY.md ST3 — the idiomatic upgrade).

The reference recomputes everything per snapshot; the Spark-native upgrade is
incremental watermarked windows: tumbling / sliding / session. The same
``F.window`` expressions run identically in batch mode, which is how the
oracle checks them — streaming correctness then reduces to Structured
Streaming's own exactly-once guarantees plus the watermark policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import sum_exact


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type (epoch-aligned)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(sum_exact("value", "total"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "total",
            "n",
        )
    )


def sliding_2h_1h(events: DataFrame) -> DataFrame:
    """2-hour windows sliding every hour — each event lands in two windows."""
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(sum_exact("value", "total"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("window_start"), "total", "n")
    )


def session_10m(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(sum_exact("value", "total"), F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "total",
            "n",
        )
    )


def watermarked_tumbling_hourly(stream: DataFrame) -> DataFrame:
    """The streaming form: state for a window is dropped once the watermark
    passes window_end + 1 hour — bounded state at any throughput."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(sum_exact("value", "total"), F.count(F.lit(1)).alias("n"))
    )
