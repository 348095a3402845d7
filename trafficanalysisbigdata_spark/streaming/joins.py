"""Stream-stream joins (Structured Streaming's hardest stateful operator).

The reference's dashboard recomputes joins per snapshot; the streaming-native
form joins two live streams directly. An UNBOUNDED stream-stream join would
keep every row in state forever, so both inputs carry watermarks and the join
predicate carries an event-time interval bound — together they let Spark
evict state once the watermark passes each row's last possible match window.

Batch-mode equivalence (same predicate on static frames) is the correctness
contract: `plans/queries_streaming.st5_purchase_view_attribution` is the
oracle-checked batch form, and tests/test_streaming.py pins the streaming
run's output to it under Trigger.AvailableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def purchase_view_attribution(
    purchases: DataFrame,
    views: DataFrame,
    streaming: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Attribution join: each purchase matches the same user's views within
    30 minutes AFTER the purchase. The interval bound plus both 1-hour
    watermarks bound the state Spark must hold (rows are evicted once the
    watermark passes their match window).

    ``how="leftOuter"`` keeps unmatched purchases (the orphan-attribution
    case — st8). In streaming mode an outer null-match row is emitted only
    once the watermark PASSES the purchase's whole match window (before
    that, a matching view could still arrive) — so a drained AvailableNow
    run reports orphans only for purchases whose window is closed by the
    final watermark; tests/test_streaming.py pins this against the batch
    form with an outpost row advancing the watermark.

    With ``streaming=False`` the identical plan runs on static frames — the
    form the DuckDB oracle checks.
    """
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("value").alias("p_value"),
        F.col("ts").alias("p_ts"),
    )
    v = views.select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    if streaming:
        p = p.withWatermark("p_ts", "1 hour")
        v = v.withWatermark("v_ts", "1 hour")
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes"))
    )
    return p.join(v, cond, how)
