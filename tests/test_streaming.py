"""Streaming surface tests (SURVEY.md §5.5).

* SnapshotRefreshJob (ST1/ST2): each snapshot file processed under
  Trigger.AvailableNow must produce EXACTLY the batch-mode dashboard results
  for that snapshot — the engine's version of the reference's global-swap
  semantics (Dash.py:119-131), minus its read-during-write hazard.
* watermarked_tumbling_hourly (ST3 upgrade): append-mode emission across two
  runs sharing a checkpoint; an event older than the carried-over watermark
  is dropped, finalized windows emit exactly once.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.sql import functions as F

from tests.plan_tree import nodes, plan_of
from trafficanalysisbigdata_spark.io import load_table
from trafficanalysisbigdata_spark.session import prep
from trafficanalysisbigdata_spark.streaming import snapshot
from trafficanalysisbigdata_spark.streaming.snapshot import (
    DRAIN_TIMEOUT_S,
    SnapshotRefreshJob,
    dashboard_queries,
    drain,
)
from trafficanalysisbigdata_spark.streaming.windows import watermarked_tumbling_hourly

EVENTS_DDL = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP"
)


def _canon(rows):
    return sorted(tuple(r) for r in rows)


def test_drain_stops_a_stalled_stream_and_raises():
    """Every AvailableNow wait is bounded: a stream still running after
    DRAIN_TIMEOUT_S is stopped, then reported as a TimeoutError."""

    class Stalled:
        waited, stopped = None, False

        def awaitTermination(self, timeout):
            self.waited = timeout
            return False

        def stop(self):
            self.stopped = True

    q = Stalled()
    with pytest.raises(TimeoutError):
        drain(q)
    assert q.waited == DRAIN_TIMEOUT_S and q.stopped


def test_snapshot_refresh_matches_batch(spark, sf_dir, tmp_path):
    """Every micro-batch's dashboard == batch dashboard over that snapshot."""
    prep(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    # three growing snapshots with distinct row counts so each micro-batch is
    # attributable to its file regardless of processing order
    sizes = [100, 150, 200]
    snap_dir = str(tmp_path / "snapshots")
    slices = []
    offset = 0
    for i, n in enumerate(sizes):
        part = events.orderBy("event_id").limit(offset + n).subtract(
            events.orderBy("event_id").limit(offset)
        )
        slices.append(part.collect())
        part.coalesce(1).write.mode("append").parquet(snap_dir)
        offset += n

    per_batch: list[dict[str, list]] = []

    def on_batch(batch_id, queries):
        per_batch.append({name: df.collect() for name, df in queries.items()})

    job = SnapshotRefreshJob(spark, snap_dir, EVENTS_DDL, on_batch=on_batch)
    job.run_available_now()

    assert job.batches_seen == len(sizes)
    # batch-mode expectation per snapshot, matched to micro-batches by size
    expected_by_size = {}
    for rows in slices:
        snap = spark.createDataFrame(rows, EVENTS_DDL)
        expected_by_size[len(rows)] = {
            name: df.collect() for name, df in dashboard_queries(snap).items()
        }
    for got in per_batch:
        size = len(got["q6_points"])
        want = expected_by_size[size]
        assert set(got) == set(want)
        for name in want:
            assert _canon(got[name]) == _canon(want[name]), name


def _mk_events(spark, rows):
    data = [
        (i, 1, "purchase", float(v), dt.datetime(2024, 1, 1, h, m))
        for i, (h, m, v) in enumerate(rows)
    ]
    return spark.createDataFrame(data, EVENTS_DDL)


def test_watermark_drops_late_data(spark, tmp_path):
    """Two AvailableNow runs sharing one checkpoint.

    Empirically pinned semantics (probed, then asserted here): the late
    filter for windowed aggregations drops a row when its WINDOW END ≤
    watermark — i.e. only rows for already-finalized windows are dropped;
    a row older than the watermark whose window is still open is accepted.
    AvailableNow's closing batch finalizes every window whose end ≤ the
    run-final watermark within the same run.
    """
    prep(spark)
    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")

    def run_once():
        got = []

        def sink(df, _bid):
            got.extend(
                (r.window_start, float(r.total), r.n)
                for r in df.collect()
            )

        stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
        q = (
            watermarked_tumbling_hourly(stream)
            .select(
                F.col("window.start").cast("string").alias("window_start"),
                "total",
                "n",
            )
            # foreachBatch, not the memory sink: memory cannot recover from a
            # checkpoint, and cross-run recovery is the point of this test
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        drain(q)
        return sorted(got)

    # run 1: hours 2 and 3, plus an outpost at 05:30 that leaves the
    # checkpointed watermark at 04:30 (5.5h − 1h lateness)
    _mk_events(
        spark, [(2, 0, 10.0), (2, 30, 5.0), (3, 15, 7.0), (5, 30, 1.0)]
    ).coalesce(1).write.mode("append").parquet(src)
    assert run_once() == [
        ("2024-01-01 02:00:00", 15.0, 2),
        ("2024-01-01 03:00:00", 7.0, 1),
    ]

    # run 2: a late event into the FINALIZED hour-3 window (dropped — that
    # window's end 04:00 ≤ carried watermark 04:30, and it must not re-emit),
    # an in-watermark event for the still-open hour-4 window (accepted), and
    # an outpost at 06:30 that pushes the watermark to 05:30, closing hour-4
    _mk_events(spark, [(3, 20, 99.0), (4, 40, 3.0), (6, 30, 2.0)]).coalesce(
        1
    ).write.mode("append").parquet(src)
    assert run_once() == [("2024-01-01 04:00:00", 3.0, 1)]


def test_stateful_running_totals_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState cumulative totals: after AvailableNow drains
    every file, each user's last emitted row equals the batch groupBy."""
    import pytest

    from trafficanalysisbigdata_spark.streaming.stateful import (
        stateful_running_totals,
    )

    prep(spark)
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(F.col("user_id") < 20)
    )
    src = str(tmp_path / "stateful_src")
    # two files => at least two micro-batches with maxFilesPerTrigger=1,
    # so state must actually carry across batches
    half = events.filter(F.col("event_id") % 2 == 0)
    rest = events.filter(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.mode("append").parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    got_rows = spark.table("running_totals").collect()
    spark.catalog.dropTempView("running_totals")
    assert len(got_rows) > len({r.user_id for r in got_rows}), (
        "expected multiple emissions per key across micro-batches"
    )
    # totals only grow -> the row with max n per user is the final state
    final = {}
    for r in got_rows:
        if r.user_id not in final or r.n > final[r.user_id].n:
            final[r.user_id] = r
    expected = {
        r.user_id: r
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(expected)
    for uid, want in expected.items():
        assert final[uid].n == want.n, uid
        assert final[uid].total == pytest.approx(want.total, rel=1e-9), uid


def test_streaming_dedup_matches_batch(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark (AvailableNow) vs batch dropDuplicates.

    Batch 1 is a fresh stream (watermark 0 — nothing late, nothing expired),
    so its emitted key set must EQUAL the batch dedup key set. Batch 2 replays
    rows whose keys are already in state with timestamps at the stream's max —
    with the dedup horizon (delay) covering the fixture's full time span, all
    state is live and every replay must be suppressed. (A 2h delay was probed
    first: keys first seen > delay before the final watermark expire, and
    replays re-emit — the documented bounded-state trade.)
    """
    from trafficanalysisbigdata_spark.streaming.dedup import streaming_dedup

    prep(spark)
    keys = ["user_id", "event_type"]
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(F.col("user_id") < 50)
    )
    src = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    events.coalesce(1).write.mode("append").parquet(src)

    got: list = []

    def sink(df, _bid):
        got.extend((r.user_id, r.event_type) for r in df.collect())

    def run_once():
        stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
        q = (
            streaming_dedup(stream, keys, delay="60 days")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        drain(q)

    run_once()
    batch_keys = {
        (r.user_id, r.event_type) for r in events.select(*keys).distinct().collect()
    }
    assert len(got) == len(batch_keys)  # exactly one survivor per key
    assert set(got) == batch_keys

    # replay: duplicate keys stamped at the stream's max ts — within the
    # watermark horizon, so state is live and every replay is suppressed
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    replay = (
        events.orderBy("event_id")
        .limit(25)
        .withColumn("ts", F.lit(max_ts).cast("timestamp"))
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    replay.coalesce(1).write.mode("append").parquet(src)
    before = len(got)
    run_once()
    assert len(got) == before  # no re-emissions


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join (AvailableNow, all data in one
    batch per side) must emit exactly the batch join's pair set."""
    from trafficanalysisbigdata_spark.streaming.joins import (
        purchase_view_attribution,
    )

    prep(spark)
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(F.col("user_id") < 40)
    )
    p_src, v_src = str(tmp_path / "p_src"), str(tmp_path / "v_src")
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    purchases.coalesce(1).write.parquet(p_src)
    views.coalesce(1).write.parquet(v_src)

    got: list = []

    def sink(df, _bid):
        got.extend((r.p_id, r.v_id) for r in df.collect())

    q = (
        purchase_view_attribution(
            spark.readStream.schema(EVENTS_DDL).parquet(p_src),
            spark.readStream.schema(EVENTS_DDL).parquet(v_src),
        )
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .start()
    )
    drain(q)

    want = {
        (r.p_id, r.v_id)
        for r in purchase_view_attribution(purchases, views, streaming=False).collect()
    }
    assert len(got) == len(want)  # inner join emits each pair exactly once
    assert set(got) == want
    assert want  # the fixture must actually produce attributions


def test_dashboard_map_layer_is_bounded(spark, monkeypatch):
    """ST2 scale guard: the map query collects at most MAX_MAP_POINTS rows
    per tick — deterministically (same hash-ordered sample every run) — via
    TakeOrderedAndProject, not a global sort."""
    big = spark.range(5000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    monkeypatch.setattr(snapshot, "MAX_MAP_POINTS", 100)
    q6 = dashboard_queries(big)["q6_points"]
    rows1 = q6.collect()
    rows2 = dashboard_queries(big)["q6_points"].collect()
    assert len(rows1) == 100
    assert [r.event_id for r in rows1] == [r.event_id for r in rows2]
    assert nodes(plan_of(q6), "TakeOrderedAndProject")


def test_snapshot_collect_guard_rejects_unaggregated(spark):
    """ST2 driver-safety guard: the per-tick collect caps rows at
    MAX_RESULT_ROWS. An unaggregated fact table must be rejected loudly —
    and without materializing itself on the driver (the guard's limit runs
    executor-side) — while the real dashboard queries all pass (round-10
    verdict item #6)."""
    import pytest

    from trafficanalysisbigdata_spark.streaming.snapshot import (
        MAX_RESULT_ROWS,
        _collect_bounded,
    )

    fact = spark.range(MAX_RESULT_ROWS + 50).select(F.col("id").alias("event_id"))
    with pytest.raises(ValueError, match="more than"):
        _collect_bounded(fact, "q_bad_unaggregated")

    small = spark.range(3).groupBy((F.col("id") % 2).alias("g")).count()
    assert len(_collect_bounded(small, "q_ok")) == 2


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static enrichment (AvailableNow, two files => two batches) must
    emit exactly the batch join's enriched rows — stateless per-batch join
    against the static dimension."""
    from trafficanalysisbigdata_spark.streaming.enrich import enrich_with_dim

    prep(spark)
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(F.col("user_id") < 60)
    )
    dim = load_table(spark, sf_dir, "customer")
    src = str(tmp_path / "enrich_src")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    got: list = []

    def sink(df, _bid):
        got.extend((r.event_id, r.c_mktsegment, r.c_acctbal) for r in df.collect())

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        enrich_with_dim(stream, dim)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .start()
    )
    drain(q)

    want = {
        (r.event_id, r.c_mktsegment, r.c_acctbal)
        for r in enrich_with_dim(events, dim).collect()
    }
    assert len(got) == len(want)
    assert set(got) == want


def test_stream_stream_left_outer_matches_batch(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream join: null-match (orphan) rows are emitted
    only once the watermark passes a purchase's whole match window, so the
    view source carries a far-future outpost row (matching no one) that
    drives the final watermark past every real purchase — after which the
    drained streaming output must equal the batch left join exactly."""
    from trafficanalysisbigdata_spark.streaming.joins import (
        purchase_view_attribution,
    )

    prep(spark)
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(F.col("user_id") < 40)
    )
    p_src, v_src = str(tmp_path / "po_src"), str(tmp_path / "vo_src")
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    purchases.coalesce(1).write.mode("append").parquet(p_src)
    views.coalesce(1).write.mode("append").parquet(v_src)
    # Outposts on BOTH sources: the join's global watermark is the MIN of
    # the two sides' watermarks, so advancing only the view side would
    # leave every purchase in the last delay+horizon stretch unemitted.
    # max(ts) + 3h clears delay (1h) + horizon (30m); impossible user.
    def outpost(kind):
        return events.agg(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(10**9).cast("long").alias("user_id"),
            F.lit(kind).alias("event_type"),
            F.lit(0.0).alias("value"),
            (F.max("ts") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
        )

    outpost("view").coalesce(1).write.mode("append").parquet(v_src)
    outpost("purchase").coalesce(1).write.mode("append").parquet(p_src)

    got: list = []

    def sink(df, _bid):
        # drop the outpost's own (possibly never-emitted) orphan row
        got.extend((r.p_id, r.v_id) for r in df.collect() if r.p_id != -1)

    q = (
        purchase_view_attribution(
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(p_src),
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(v_src),
            how="leftOuter",
        )
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ssjo_ckpt"))
        .start()
    )
    drain(q)

    want = {
        (r.p_id, r.v_id)
        for r in purchase_view_attribution(
            purchases, views, streaming=False, how="leftOuter"
        ).collect()
    }
    assert len(got) == len(want)
    assert set(got) == want
    assert any(v is None for _, v in want), "fixture must produce orphans"
    assert any(v is not None for _, v in want)


def test_keyed_upsert_replay_is_idempotent(spark, tmp_path):
    """The effectively-once contract of the versioned upsert sink: replaying
    a batch (crash after the version publish, before the checkpoint commit)
    must produce the SAME final state, because the merge reads only versions
    strictly older than the replaying batch — reading 'latest' would fold
    the batch into its own partial output and double-count."""
    import os

    from trafficanalysisbigdata_spark.streaming.upsert import (
        keyed_upsert_batch,
        latest_state,
    )

    state_root = str(tmp_path / "state")
    os.makedirs(state_root)
    upsert = keyed_upsert_batch(state_root)

    b0 = spark.createDataFrame(
        [(0, 1, 10.0), (1, 2, 5.0)], "event_id long, user_id long, value double"
    )
    b1 = spark.createDataFrame(
        [(2, 1, 7.0), (3, 3, 1.0)], "event_id long, user_id long, value double"
    )
    upsert(b0, 0)
    upsert(b1, 1)
    want = sorted(map(tuple, latest_state(spark, state_root).collect()))

    # crash-replay: batch 1 runs again with its version dir already present
    upsert(b1, 1)
    got = sorted(map(tuple, latest_state(spark, state_root).collect()))
    assert got == want
    # and the state is the true cross-batch aggregate
    by_user = {r[0]: r for r in got}
    assert by_user[1][1] == 2 and float(by_user[1][2]) == 17.0  # n, total
    assert by_user[1][3] == 2 and by_user[1][4] == 7.0  # last event wins


def test_keyed_upsert_compaction_keeps_replay_idempotent(spark, tmp_path, monkeypatch):
    """Version retention (keep last K) bounds state storage over a long
    stream; K >= 2 must preserve the replay contract because the replayed
    batch reads the SECOND-newest version, which retention always keeps.
    This drives 5 batches through KEEP_VERSIONS=2, asserts only 2 version
    dirs survive, then crash-replays the final batch across the compaction
    boundary and asserts the state is unchanged."""
    import os

    from trafficanalysisbigdata_spark.streaming import upsert as upsert_mod
    from trafficanalysisbigdata_spark.streaming.upsert import (
        keyed_upsert_batch,
        latest_state,
    )

    monkeypatch.setattr(upsert_mod, "KEEP_VERSIONS", 2)
    state_root = str(tmp_path / "state")
    os.makedirs(state_root)
    upsert = keyed_upsert_batch(state_root)

    batches = [
        spark.createDataFrame(
            [(10 * b + i, i % 3, float(b + i)) for i in range(4)],
            "event_id long, user_id long, value double",
        )
        for b in range(5)
    ]
    for b, df in enumerate(batches):
        upsert(df, b)
    dirs = sorted(d for d in os.listdir(state_root) if d.startswith("v"))
    assert dirs == ["v00003", "v00004"], dirs
    want = sorted(map(tuple, latest_state(spark, state_root).collect()))

    # crash-replay of the newest batch: its merge input (v00003) survived
    # compaction by the K >= 2 invariant
    upsert(batches[4], 4)
    got = sorted(map(tuple, latest_state(spark, state_root).collect()))
    assert got == want
    # totals really span all 5 batches, not just the retained versions
    n_total = sum(r[1] for r in got)
    assert n_total == 20  # 5 batches x 4 events


def test_latest_state_empty_and_partial_versions(spark, tmp_path):
    """latest_state is total: a stream that drained zero batches yields an
    EMPTY typed frame (not IndexError), and a partial version directory left
    by a crash between publish and checkpoint commit (no _SUCCESS marker) is
    invisible — the newest COMPLETE version is read instead."""
    import os

    from trafficanalysisbigdata_spark.streaming.upsert import (
        STATE_SCHEMA,
        keyed_upsert_batch,
        latest_state,
    )

    # zero batches: missing root and empty root both yield the typed empty
    empty = latest_state(spark, str(tmp_path / "nowhere"))
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame([], STATE_SCHEMA).schema

    state_root = str(tmp_path / "state")
    os.makedirs(state_root)
    assert latest_state(spark, state_root).count() == 0

    upsert = keyed_upsert_batch(state_root)
    upsert(
        spark.createDataFrame(
            [(1, 7, 2.0)], "event_id long, user_id long, value double"
        ),
        0,
    )
    # simulate a crash mid-publish: newer version dir without _SUCCESS
    partial = os.path.join(state_root, "v00001")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    rows = latest_state(spark, state_root).collect()
    assert [r.user_id for r in rows] == [7]
