"""Event-time window queries (SURVEY.md §2.9). The window expressions are the
same ones the streaming jobs use (streaming/windows.py) run in batch mode —
the oracle checks window semantics; exactly-once/watermark behavior is
covered by tests/test_streaming.py."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

from ..io import scratch_dir
from ..streaming.snapshot import drain, stage_snapshots
from ..streaming.windows import session_10m, sliding_2h_1h, tumbling_hourly
from .registry import register


@register(
    "st1_tumbling_hourly",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM events GROUP BY window_start, event_type
    """,
    tags=("streaming", "window", "ST3"),
    tables=("events",),
)
def st1_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aligned 1h tumbling windows per type (= DuckDB time_bucket)."""
    return tumbling_hourly(spark.table("events"))


@register(
    "st2_sliding_2h_windows",
    oracle="""
    WITH assigned AS (
      SELECT date_trunc('hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL '1 hour', value FROM events
    )
    SELECT CAST(window_start AS VARCHAR) AS window_start,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM assigned GROUP BY window_start
    """,
    tags=("streaming", "window", "ST3"),
    tables=("events",),
)
def st2_sliding_2h_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h windows sliding 1h: every event belongs to the two windows starting
    at floor_hour(ts) and floor_hour(ts) − 1h — which is exactly what the
    oracle's UNION ALL expansion encodes."""
    return sliding_2h_1h(spark.table("events"))


@register(
    "st3_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 20
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "session"),
    tables=("events",),
)
def st3_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 10-minute-gap session windows (F.session_window). The oracle
    is the classic gaps-and-islands formulation — same session boundaries."""
    from pyspark.sql import functions as F

    return session_10m(spark.table("events").filter(F.col("user_id") < 20))


@register(
    "st4_first_event_per_key",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type, COUNT(*) AS n_keys,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_kept
    FROM ranked WHERE rn = 1
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "dedup", "ST4"),
    tables=("events",),
)
def st4_first_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup-to-first-event per (user_id, event_type) — the
    batch contract behind streaming_dedup's dropDuplicatesWithinWatermark
    (streaming/dedup.py; online-vs-batch equivalence pinned in
    tests/test_streaming.py). One map-side-combinable min(struct) shuffle —
    no window sort over the full corpus."""
    from ..streaming.dedup import first_event_per_key

    return first_event_per_key(spark.table("events"))


@register(
    "st5_purchase_view_attribution",
    oracle="""
    SELECT p.user_id,
           COUNT(*) AS n_attributed,
           CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts AND v.ts <= p.ts + INTERVAL '30 minutes'
    GROUP BY p.user_id ORDER BY p.user_id
    """,
    tags=("streaming", "join", "interval"),
    tables=("events",),
)
def st5_purchase_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch contract of the stream-stream attribution join
    (streaming/joins.py): purchases matched to the same user's views within
    30 minutes after. The streaming form (watermarks + the same interval
    bound ⇒ bounded state) is pinned to this output in
    tests/test_streaming.py. The join itself is an equi-key on user_id with
    the time bound as a post-filter — never a cross join."""
    from pyspark.sql import functions as F

    from ..streaming.joins import purchase_view_attribution

    ev = spark.table("events")
    joined = purchase_view_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        streaming=False,
    )
    from ..functions.numeric import sum_exact

    return (
        joined.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            sum_exact("p_value", "attributed_value"),
        )
        .orderBy("user_id")
    )


@register(
    "st6_stream_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events LEFT JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("streaming", "join", "enrich"),
    tables=("events", "customer"),
)
def st6_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch contract of the stream-static enrichment join
    (streaming/enrich.py): purchases enriched with the customer dimension
    (broadcast, stateless in streaming — no watermarks, no join state),
    rolled up per market segment. Enrichment is a LEFT join on both sides —
    a user_id absent from the dimension forms a NULL-segment group rather
    than silently dropping rows (and the oracle mirrors that, so parity
    holds under any fixture). The streaming form is pinned to this output
    under Trigger.AvailableNow in tests/test_streaming.py."""
    from ..functions.numeric import sum_exact
    from ..streaming.enrich import enrich_with_dim

    enriched = enrich_with_dim(
        spark.table("events").filter(F.col("event_type") == "purchase"),
        spark.table("customer"),
    )
    return (
        enriched.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_purchases"), sum_exact("value", "total_value"))
        .orderBy("c_mktsegment")
    )


def _odd_even(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split by event_id parity into two source files, so a stream reading
    one file per trigger must carry state across two micro-batches."""
    return (
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
    )


def _stream_schema(staged: DataFrame) -> StructType:
    """The schema a stream reads ``staged``'s files with: its columns, with
    TIMESTAMP_NTZ read as TIMESTAMP, the type event-time operators need (the
    fixtures store ts without the UTC flag, which Spark reads as NTZ)."""
    return StructType(
        [
            StructField(
                f.name,
                TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
            )
            for f in staged.schema
        ]
    )


def _sink_rows(spark: SparkSession, sink: str) -> DataFrame:
    """The rows of the drained memory sink ``sink``, with its temp view
    dropped: the returned frame holds the sink itself, so a long-lived
    session keeps a run's rows only as long as something holds its result."""
    rows = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return rows


@register(
    "st7_stateful_running_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total
    FROM events WHERE user_id < 20
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
    tables=("events",),
)
def st7_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL ``applyInPandasWithState`` stream (streaming/stateful.py)
    end-to-end and oracle-checks its final state.

    Unlike st1–st6 (batch contracts of streaming expressions), the Spark side
    here executes an actual structured stream: the events subset is split
    into two files, read with ``maxFilesPerTrigger=1`` so per-key state MUST
    carry across at least two micro-batches, drained under
    Trigger.AvailableNow into a memory sink, and reduced to each key's final
    emission (update-mode rows only ever grow in ``n`` per key, so
    ``max_by(struct, n)`` is the last state). The oracle is the batch
    groupBy — cumulative state after draining everything equals the batch
    aggregate, which is the defining property of the operator.

    Totals are rounded to 2 decimals on both sides: fixture values are exact
    2-decimal quantities, so the decimal-exact oracle sum is a multiple of
    0.01 and float accumulation error (~1e-11) can never flip the rounding.

    Scale posture: state is sharded by the groupBy key across the state
    store (bounded by key cardinality, not stream length); the memory-sink +
    final-row reduction here is test scaffolding — production would write
    update-mode rows to a keyed sink (ref Dash.py:119-131 keeps ONE global
    in-memory frame in one process instead)."""
    from ..streaming.stateful import stateful_running_totals

    work = scratch_dir(spark, "st7")

    events = (
        spark.table("events")
        .select("event_id", "user_id", "value")
        .filter(F.col("user_id") < 20)
    )
    # two files => two AvailableNow micro-batches with maxFilesPerTrigger=1
    src = stage_snapshots(_odd_even(events), work)

    stream = (
        spark.readStream.schema(_stream_schema(events))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = os.path.basename(work).replace("-", "_")  # memory-sink view name
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    return (
        _sink_rows(spark, sink)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("n", "total"), "n").alias("fin"))
        .select(
            "user_id",
            F.col("fin.n").alias("n"),
            F.round(F.col("fin.total"), 2).alias("total"),
        )
        .orderBy("user_id")
    )


@register(
    "st8_orphan_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    per_p AS (
      SELECT p.event_id,
             MAX(p.value) AS p_value,
             MAX(CASE WHEN v.event_id IS NOT NULL THEN 1 ELSE 0 END) AS has_view
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.ts >= p.ts AND v.ts <= p.ts + INTERVAL '30 minutes'
      GROUP BY p.event_id
    )
    SELECT COUNT(*) AS n_purchases,
           CAST(SUM(has_view) AS BIGINT) AS n_attributed,
           CAST(SUM(1 - has_view) AS BIGINT) AS n_orphans,
           CAST(SUM(CASE WHEN has_view = 0
                         THEN CAST(p_value AS DECIMAL(18,6)) END) AS DOUBLE)
             AS orphan_value
    FROM per_p
    """,
    tags=("streaming", "join", "outer"),
    tables=("events",),
)
def st8_orphan_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch contract of the LEFT OUTER stream-stream attribution join: the
    purchases NO view followed within 30 minutes (the retargeting audience /
    lost-conversion report). Outer is the hard streaming case — a null-match
    row can only be emitted once the watermark proves no view can still
    arrive; the streaming form is pinned to this output in
    tests/test_streaming.py with an outpost row advancing the watermark.
    Same bounded-state posture as st5: equi-key on user_id, time bound as a
    join-side filter, state evicted at watermark - match-window."""
    from ..streaming.joins import purchase_view_attribution

    ev = spark.table("events")
    joined = purchase_view_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        streaming=False,
        how="leftOuter",
    )
    per_p = joined.groupBy("p_id").agg(
        F.max("p_value").alias("p_value"),
        F.max(F.col("v_id").isNotNull().cast("int")).alias("has_view"),
    )
    return per_p.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("has_view").cast("bigint").alias("n_attributed"),
        F.sum(1 - F.col("has_view")).cast("bigint").alias("n_orphans"),
        F.sum(
            F.when(F.col("has_view") == 0, F.col("p_value").cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("orphan_value"),
    )


@register(
    "st9_watermark_dedup_stream",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_keys
    FROM events WHERE user_id < 50
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
    tables=("events",),
)
def st9_watermark_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL ``dropDuplicatesWithinWatermark`` stream
    (streaming/dedup.streaming_dedup) end-to-end — the online sibling of
    dd1's batch hash-dedup and the second genuine structured stream in the
    registry after st7.

    The events subset splits into two files read with maxFilesPerTrigger=1,
    so dedup state MUST carry across micro-batches (a key seen in batch 1
    suppresses its duplicates in batch 2). WHICH physical row survives
    depends on arrival order — unknowable online — so the query aggregates
    to what is arrival-order-INVARIANT: with the dedup delay (365 days)
    wider than the fixture's event-time span, no state ever expires, every
    duplicate key is suppressed, and the appended row-set is exactly one
    row per distinct (user_id, event_type). Counting those per event_type
    equals the batch COUNT(DISTINCT user_id) — the defining contract of the
    operator, oracle-checked.

    Scale posture: dedup state shards by key hash across the state store
    and expires at watermark - delay, so memory is bounded by keys-in-
    horizon, not stream length; in production delay is hours, trading
    far-apart duplicates for bounded state (the batch dd1 pass catches the
    long tail). Ref contract: TrafficAnalysis.py dedups once per download;
    a 100 TB ingest dedups as data lands."""
    from ..streaming.dedup import streaming_dedup

    work = scratch_dir(spark, "st9")

    events = (
        spark.table("events")
        .select("event_id", "ts", "user_id", "event_type")
        .filter(F.col("user_id") < 50)
    )
    src = stage_snapshots(_odd_even(events), work)

    stream = (
        spark.readStream.schema(_stream_schema(events))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = os.path.basename(work).replace("-", "_")  # memory-sink view name
    q = (
        streaming_dedup(stream, ["user_id", "event_type"], delay="365 days")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    return (
        _sink_rows(spark, sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("event_type")
    )


@register(
    "st10_session_window_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 15
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ), sess AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
             SUM(CAST(value AS DECIMAL(18,6))) AS total_dec, COUNT(*) AS n
      FROM numbered GROUP BY user_id, session_id
    ), wm AS (
      SELECT MAX(ts) AS w FROM events WHERE user_id < 15
    )
    SELECT user_id, CAST(session_start AS VARCHAR) AS session_start,
           CAST(total_dec AS DOUBLE) AS total, n
    FROM sess, wm
    WHERE session_last + INTERVAL '10 minutes' <= w
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session", "watermark"),
    tables=("events",),
)
def st10_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL watermarked session-window stream (the third genuine
    structured stream after st7/st9) and oracle-checks its append-mode
    output INCLUDING the watermark emission contract: a session emits iff
    its window end (last event + gap) <= the final watermark, so the
    oracle's WHERE clause IS the semantics of append-mode session state —
    the last still-open session per user must NOT appear, and the
    differential check fails if the engine emits early, late, or merges
    sessions wrongly across micro-batches.

    The subset streams as two TIME-ORDERED files (split at the fixture's
    mid-month) read one per trigger, so cross-batch session MERGING is
    exercised without late-data drops: every batch-2 event is newer than
    batch 1's watermark, and a session emitted at batch 1 provably cannot
    be reopened by batch 2 (next event > split > watermark >= session end).
    Watermark delay 0s + the trailing no-data micro-batch flush state up
    to the global max event time.

    Scale posture: session state shards by (user, session) across the
    state store and evicts at the watermark — bounded by concurrently-open
    sessions, not stream length; this is ST3's batch contract (st3)
    upgraded to runtime streaming evidence."""
    work = scratch_dir(spark, "st10")

    events = (
        spark.table("events")
        .select("ts", "user_id", "value")
        .filter(F.col("user_id") < 15)
    )
    split = F.lit("2024-01-16").cast("timestamp")
    # Deterministic replay order matters here: a flipped order would advance
    # the 0-second watermark past every batch-1 event and drop them as late.
    src = stage_snapshots(
        (events.filter(F.col("ts") < split), events.filter(F.col("ts") >= split)), work
    )

    stream = (
        spark.readStream.schema(_stream_schema(events))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    sink = os.path.basename(work).replace("-", "_")  # memory-sink view name
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    return (
        _sink_rows(spark, sink)
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            F.col("total_dec").cast("double").alias("total"),
            "n",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "st11_foreachbatch_upsert",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total,
           CAST(max_by(event_id, event_id) AS BIGINT) AS last_event_id,
           ROUND(max_by(value, event_id), 2) AS last_value
    FROM events WHERE user_id < 25
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "foreachBatch", "upsert", "sink"),
    tables=("events",),
)
def st11_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming KEYED-UPSERT SINK pattern — foreachBatch merging each
    micro-batch into a versioned state table: counters accumulate
    (n += batch_n, total += batch_total) and latest-attribute columns
    resolve by event recency (last_value = value of the max event_id seen),
    i.e. the CDC materialization every operational dashboard sits on. Each
    batch publishes state as an immutable new version directory (write,
    then readers switch — the atomic-publish idiom s13/s16 use in batch),
    so a crash mid-batch leaves the previous version intact and the
    checkpoint replays the batch: effectively-once state. The merge lives
    in streaming/upsert.py and reads only versions STRICTLY OLDER than the
    replaying batch, so a replay recomputes identical output instead of
    double-counting into its own partial publish (replay-idempotence test
    in tests/test_streaming.py).

    The stream is REAL (two staged files, maxFilesPerTrigger=1 forces the
    merge to run across >= 2 micro-batches under Trigger.AvailableNow);
    the merge itself is a full-outer join on the key with coalesced
    counters — increment-side-bounded like dd8, since only the batch's
    keys and the state's keys join, and state is one row per key. The
    final state equals the batch aggregate (the oracle) REGARDLESS of how
    events split across batches — the upsert algebra is associative.

    Scale posture: state is a keyed parquet table partitionable by key
    range; each micro-batch joins batch-keys x state (key-pruned at real
    table layouts), never rescans the stream's history. The versioned-dir
    publish is what Delta/Iceberg MERGE does under snapshot isolation —
    expressed here in plain parquet."""
    from ..streaming.upsert import keyed_upsert_batch, latest_state

    work = scratch_dir(spark, "st11")
    state_root = os.path.join(work, "state")
    os.makedirs(state_root)

    events = (
        spark.table("events")
        .select("event_id", "user_id", "value")
        .filter(F.col("user_id") < 25)
    )
    src = stage_snapshots(_odd_even(events), work)

    upsert = keyed_upsert_batch(state_root)

    stream = (
        spark.readStream.schema(_stream_schema(events))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    return (
        latest_state(spark, state_root)
        .select(
            "user_id",
            "n",
            F.round(F.col("total_dec").cast("double"), 2).alias("total"),
            F.col("last_event_id").cast("bigint").alias("last_event_id"),
            F.round("last_value", 2).alias("last_value"),
        )
        .orderBy("user_id")
    )
