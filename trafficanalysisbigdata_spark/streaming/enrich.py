"""Stream-static enrichment join — the everyday streaming pattern the
stream-stream machinery (joins.py) is overkill for: a live event stream
joined against a slowly-changing dimension table (user → segment, device →
model, ...).

In Structured Streaming a stream-static join is STATELESS: each micro-batch
joins against the static frame as of that batch, no watermarks, no join
state. With the dimension broadcast, enrichment never shuffles the stream —
at 100× the stream side stays partition-local and the dimension rides the
broadcast, exactly like the batch j1/j2 star joins. The same function body
serves batch frames, which is what the DuckDB oracle checks
(plans/queries_streaming.st6) and what the AvailableNow parity test pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Left-join the customer dimension's (c_mktsegment, c_acctbal) onto
    ``events`` by user_id = c_custkey, broadcast. Works unchanged on a
    streaming ``events`` frame (stream-static join, stateless)."""
    d = dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_acctbal")
    return events.join(F.broadcast(d), "user_id", "left")
