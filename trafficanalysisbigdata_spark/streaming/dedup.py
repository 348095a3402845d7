"""Streaming deduplication (training-pipeline surface).

A 100 TB ingest pipeline dedups AS data arrives, not in a nightly batch pass.
Structured Streaming's ``dropDuplicatesWithinWatermark`` keeps per-key state
only until the event-time watermark passes the key's timestamp + delay, so
state stays bounded at any throughput — the streaming sibling of
``operators/dedup.exact_dedup_summary``'s hash-groupBy.

The batch-deterministic formulation (``first_event_per_key``) defines WHICH
row survives — earliest (ts, event_id) — so it is exactly expressible in SQL
for the driver oracle; the streaming form keeps the first ARRIVAL (the only
choice available online) and is pinned to the batch row-set/key-set contract
in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import sum_exact


def streaming_dedup(stream: DataFrame, keys: Sequence[str], delay: str = "2 hours") -> DataFrame:
    """Drop duplicate keys arriving within ``delay`` of each other (event
    time ``ts``).

    State for a key expires once the watermark passes its event time +
    ``delay`` — bounded memory; duplicates farther apart than ``delay`` are
    the deliberate trade (widen the delay to widen the dedup horizon).
    """
    return stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(list(keys))


def first_event_per_key(events: DataFrame) -> DataFrame:
    """Deterministic batch dedup: per (user_id, event_type) key keep the
    earliest (ts, event_id) row, then summarize per event_type. min(struct(ts, event_id, value)) is
    map-side combinable — one shuffle on the dedup key, a second tiny one on
    event_type; (ts, event_id) is unique so `value` rides without being
    compared."""
    kept = (
        events.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id", "value")).alias("__first"))
        .select("user_id", "event_type", F.col("__first.value").alias("kept_value"))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            sum_exact("kept_value", "total_kept"),
        )
        .orderBy("event_type")
    )
