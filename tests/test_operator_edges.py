"""Edge-case unit tests the oracle harness can't express cleanly:
as-of tie determinism, degenerate histogram ranges, bigram guards."""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from tests.plan_tree import nodes, plan_of
from trafficanalysisbigdata_spark.functions.text import token_bigrams
from trafficanalysisbigdata_spark.functions.timeparts import date_from_parts
from trafficanalysisbigdata_spark.operators.aggregates import histogram
from trafficanalysisbigdata_spark.operators.asof import asof_join
from trafficanalysisbigdata_spark.session import prep


def test_asof_tie_determinism(spark):
    prep(spark)
    t = dt.datetime(2024, 1, 1, 12)
    left = spark.createDataFrame([(1, t)], "k int, lts timestamp")
    # three right rows at the SAME (key, ts): greatest value tuple must win
    right = spark.createDataFrame(
        [(1, t, 10.0), (1, t, 30.0), (1, t, 20.0)], "k int, rts timestamp, v double"
    )
    outs = set()
    for _ in range(3):
        r = asof_join(
            left, right.repartition(3), "lts", "rts", by=["k"], value_cols=["v"]
        ).collect()
        assert len(r) == 1
        outs.add(r[0]["v_asof"])
    assert outs == {30.0}


def test_asof_no_prior_row_is_null(spark):
    prep(spark)
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "k int, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 6, 1), 5.0)], "k int, rts timestamp, v double"
    )
    r = asof_join(left, right, "lts", "rts", by=["k"], value_cols=["v"]).collect()
    assert r[0]["v_asof"] is None


def test_histogram_constant_column(spark):
    prep(spark)
    df = spark.createDataFrame([(7.0,)] * 42, "x double")
    rows = histogram(df, "x", bins=20).collect()
    assert [(r.bin, r.n) for r in rows] == [(0, 42)]


def test_token_bigrams_short_docs(spark):
    prep(spark)
    df = spark.createDataFrame(
        [("a b c",), ("single",), ("",)], "text string"
    ).select(token_bigrams(F.col("text")).alias("bg"))
    got = [r.bg for r in df.collect()]
    assert got[0] == ["a b", "b c"]
    assert got[1] == []  # 1 token: no fabricated unigram shingle
    assert got[2] == []  # split('') yields [''] — still a single token


def test_date_from_parts_null_propagation(spark):
    prep(spark)
    df = spark.createDataFrame(
        [(2024, 5, 17), (2024, None, 5), (2024, 2, 30)], "y int, m int, d int"
    ).select(date_from_parts(F.col("y"), F.col("m"), F.col("d")).alias("dt"))
    got = [r.dt for r in df.collect()]
    assert got[0] == dt.date(2024, 5, 17)
    assert got[1] is None  # NULL part must NOT collapse into '2024-05'
    assert got[2] is None  # out of range coerces like pandas NaT


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """HLL++ is the 100 TB distinct path (olap4 keeps the oracle exact);
    its estimate must land within 5% of truth on the fixture."""
    from trafficanalysisbigdata_spark.io import load_table

    prep(spark)
    ev = load_table(spark, sf_dir, "events")
    r = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("approx"),
    ).collect()[0]
    assert abs(r.approx - r.exact) / r.exact < 0.05


def test_salted_join_matches_once_and_is_deterministic(spark, monkeypatch):
    """Each skewed row carries exactly one salt and ``other`` is replicated
    once per salt, so every match appears exactly once and an unmatched row
    drops out; deterministic salts mean two runs agree row-for-row."""
    from trafficanalysisbigdata_spark.operators import joins
    from trafficanalysisbigdata_spark.operators.joins import salted_join

    monkeypatch.setattr(joins, "SALTS", 4)
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (99, "orphan")], "k int, v string"
    )
    right = spark.createDataFrame([(1, "X"), (2, "Y")], "k int, w string")
    out = salted_join(left, right, key="k")
    rows = sorted((r.k, r.v, r.w) for r in out.collect())
    assert rows == [(1, "a", "X"), (1, "b", "X"), (2, "c", "Y")]
    again = sorted((r.k, r.v, r.w) for r in salted_join(left, right, "k").collect())
    assert again == rows


def test_token_ngrams_short_doc_guard(spark):
    """<n-token docs yield NO shingles (sequence would step downward)."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.functions.text import token_ngrams

    df = spark.createDataFrame(
        [("a b c d e",), ("a b c d",), ("a",), ("",)], "text string"
    )
    got = [r.g for r in df.select(token_ngrams(F.col("text"), 5).alias("g")).collect()]
    assert got == [["a b c d e"], [], [], []]


def test_compaction_collapses_file_count(spark, sf_dir, tmp_path):
    """s11's layout claim, checked on disk: 64 fragments become 4 files with
    identical rows."""
    import glob
    import os

    from trafficanalysisbigdata_spark.io import load_table
    from trafficanalysisbigdata_spark.session import prep

    prep(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    frag = str(tmp_path / "frag")
    compact = str(tmp_path / "compact")
    ev.repartition(64).write.parquet(frag)
    assert len(glob.glob(os.path.join(frag, "*.parquet"))) == 64
    spark.read.parquet(frag).repartition(4).write.parquet(compact)
    assert len(glob.glob(os.path.join(compact, "*.parquet"))) == 4
    assert spark.read.parquet(compact).count() == ev.count()


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Skew-injected fixture: 400 identical boilerplate docs collide into one
    mega-bucket per band. With the cap those buckets are dropped — candidate
    volume stays bounded — while a genuine near-dup pair with discriminative
    tokens (small buckets) survives. Uncapped, the same fixture produces the
    O(bucket²) explosion the cap exists to prevent."""
    from trafficanalysisbigdata_spark.operators.dedup import (
        doc_token_sets,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    boiler = [(i, "terms of service apply all rights reserved") for i in range(400)]
    neardup = [
        (1000, "quantum entanglement drives superconducting qubit gates"),
        (1001, "quantum entanglement drives superconducting qubit arrays"),
    ]
    docs = spark.createDataFrame(boiler + neardup, "doc_id long, text string")
    sig = minhash_signatures(doc_token_sets(docs), num_perm=8)

    capped = lsh_candidate_pairs(sig, num_perm=8, rows_per_band=2, max_bucket=100)
    got = {(r.doc1, r.doc2) for r in capped.collect()}
    assert (1000, 1001) in got  # discriminative near-dup survives the cap
    assert len(got) <= 100  # bounded: mega-buckets (400 docs) were dropped

    uncapped = lsh_candidate_pairs(sig, num_perm=8, rows_per_band=2)
    # 400 identical docs alone contribute C(400,2) = 79800 pairs
    assert uncapped.count() >= 79800


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 collapses to one component labeled min=1 (transitivity —
    the semantics pairwise dedup rules approximate); disjoint pair and
    triangle keep their own min labels; pointer jumping converges."""
    from trafficanalysisbigdata_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc1 long, doc2 long",
    )
    got = {(r.v, r.component) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_long_chain_converges(spark, cc_arm, monkeypatch):
    """A 64-vertex path is the pointer-jumping stress case: plain min
    propagation needs 63 rounds, jumping needs ~log2(63); a 12-round budget
    would fail without it. On the loop arm the budget binds: 3 rounds raise.
    The one-task union-find has no round budget, so it ignores
    ``CC_MAX_ITER``."""
    from trafficanalysisbigdata_spark.operators import components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc1 long, doc2 long"
    )
    monkeypatch.setattr(components, "CC_MAX_ITER", 12)
    labels = {r.component for r in components.connected_components(edges).collect()}
    assert labels == {0}
    if cc_arm == "loop":
        monkeypatch.setattr(components, "CC_MAX_ITER", 3)
        with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
            components.connected_components(edges)


def test_sorted_layout_footers_are_disjoint(spark, sf_dir, tmp_path):
    """write_sorted's data-skipping claim, checked on disk: every parquet
    file's ts min/max span is tight and the per-file spans are pairwise
    disjoint — which is exactly what lets a range predicate prune whole
    files. An unsorted write of the same rows has every file spanning
    ~the full time range."""
    import glob

    import pyarrow.parquet as pq

    from trafficanalysisbigdata_spark.io import load_table, write_sorted
    from trafficanalysisbigdata_spark.session import prep

    prep(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    path = str(tmp_path / "sorted")
    write_sorted(ev, path, "ts", n_files=8)

    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == "ts"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(col_idx).statistics
            mins.append(stats.min)
            maxs.append(stats.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 2
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"file spans overlap: {hi1} > {lo2}"

    # a sorted-layout read with a range filter returns the same rows
    lo, hi = spans[1]
    back = spark.read.parquet(path).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    orig = ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert back.count() == orig.count()


def test_partition_upsert_touches_only_target_partition(spark, sf_dir, tmp_path):
    """s14's dynamic-overwrite contract: the delta write must leave every
    non-target partition byte-identical (same files, same sizes, same
    mtimes) and replace the target partition's files."""
    import os

    from trafficanalysisbigdata_spark.io import load_table

    prep(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "value")
        .withColumn("d", F.to_date("ts").cast("string"))
    )
    base = str(tmp_path / "events")
    ev.write.partitionBy("d").mode("overwrite").parquet(base)

    def snapshot() -> dict[str, dict[str, tuple[int, float]]]:
        parts = {}
        for entry in os.listdir(base):
            if not entry.startswith("d="):
                continue
            pdir = os.path.join(base, entry)
            parts[entry] = {
                f: (os.path.getsize(os.path.join(pdir, f)),
                    os.path.getmtime(os.path.join(pdir, f)))
                for f in os.listdir(pdir)
                if not f.startswith(".")
            }
        return parts

    before = snapshot()
    last_day = ev.agg(F.max("d")).first()[0]
    target = f"d={last_day}"
    assert target in before and len(before) > 1

    delta = ev.filter(F.col("d") == last_day).withColumn("value", F.col("value") * 2)
    (
        delta.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("d")
        .mode("overwrite")
        .parquet(base)
    )

    after = snapshot()
    assert set(after) == set(before), "partition set must be unchanged"
    for part in before:
        if part == target:
            assert after[part] != before[part], "target partition must be rewritten"
        else:
            assert after[part] == before[part], f"{part} was touched by the upsert"

    # and the merged table is exactly: all rows, last day's values doubled
    back = spark.read.parquet(base)
    n_before = ev.count()
    assert back.count() == n_before
    got = back.filter(F.col("d").cast("string") == last_day).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("t")
    ).first()["t"]
    want = ev.filter(F.col("d") == last_day).agg(
        F.sum((F.col("value") * 2).cast("decimal(18,6)")).cast("double").alias("t")
    ).first()["t"]
    assert got == want


def test_zorder_footers_are_boxes_on_both_dims(spark, sf_dir, tmp_path):
    """write_zorder's claim on disk: each file's (user_id, value) footer box
    covers a small fraction of the 2-D domain — a round-robin write of the
    same rows has every file spanning ~the whole domain on both dims, and a
    single-column sort is tight on one dim but full-range on the other."""
    import glob

    import pyarrow.parquet as pq

    from trafficanalysisbigdata_spark.io import load_table, write_zorder

    prep(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "rrobin")
    write_zorder(ev, zpath, "user_id", "value", n_files=8)
    ev.repartition(8).write.mode("overwrite").parquet(rpath)

    glo = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    uspan, vspan = float(glo[1] - glo[0]), float(glo[3] - glo[2])

    def file_areas(path):
        areas = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo, hi = {}, {}
            for name in ("user_id", "value"):
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(cols[name]).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                lo[name], hi[name] = min(mins), max(maxs)
            u_frac = (hi["user_id"] - lo["user_id"]) / uspan
            v_frac = (hi["value"] - lo["value"]) / vspan
            areas.append(u_frac * v_frac)
        return sorted(areas)

    z_areas, r_areas = file_areas(zpath), file_areas(rpath)
    assert len(z_areas) >= 4
    # medians, not extremes: one z file legitimately straddles a curve seam
    # (measured 0.84-0.96 area), and small per-file samples keep round-robin
    # boxes slightly under the full domain (measured medians: z ~0.08,
    # round-robin ~0.75 at sf0.001/sf0.01)
    z_med = z_areas[len(z_areas) // 2]
    r_med = r_areas[len(r_areas) // 2]
    assert r_med > 0.4, f"round-robin baseline unexpectedly tight: {r_areas}"
    assert z_med < 0.25, f"median z-file box area {z_med} too large: {z_areas}"
    assert z_med < 0.3 * r_med

    # a literal box predicate over the z layout returns the same rows as
    # over the original (pruning must never change results)
    box = (
        (F.col("user_id") >= 10) & (F.col("user_id") <= 20)
        & (F.col("value") >= 50.0) & (F.col("value") <= 150.0)
    )
    got = spark.read.parquet(zpath).filter(box)
    want = ev.filter(box)
    assert got.count() == want.count()
    assert got.agg(F.sum("event_id")).first()[0] == want.agg(F.sum("event_id")).first()[0]


def test_incremental_agg_refresh_prunes_and_preserves(spark, sf_dir, tmp_path):
    """s16's maintenance contract: (a) the refresh's fact scan is pruned to
    the corrected day's partition; (b) every non-target AGG partition is
    byte-identical across the refresh; (c) the refreshed agg table equals a
    full recompute over the corrected fact lake."""
    import os

    from trafficanalysisbigdata_spark.io import load_table

    prep(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "value")
        .withColumn("d", F.to_date("ts").cast("string"))
    )
    fact = str(tmp_path / "fact")
    agg = str(tmp_path / "agg")
    ev.write.partitionBy("d").mode("overwrite").parquet(fact)

    def day_agg(df):
        return df.groupBy("d").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
        )

    day_agg(spark.read.parquet(fact)).write.partitionBy("d").mode(
        "overwrite"
    ).parquet(agg)

    def snapshot(base):
        parts = {}
        for entry in os.listdir(base):
            if entry.startswith("d="):
                pdir = os.path.join(base, entry)
                parts[entry] = {
                    f: (os.path.getsize(os.path.join(pdir, f)),
                        os.path.getmtime(os.path.join(pdir, f)))
                    for f in os.listdir(pdir)
                    if not f.startswith(".")
                }
        return parts

    before = snapshot(agg)
    last_day = ev.agg(F.max("d")).first()[0]
    corr = ev.filter(F.col("d") == last_day).withColumn("value", F.col("value") * 2)
    corr.write.option("partitionOverwriteMode", "dynamic").partitionBy("d").mode(
        "overwrite"
    ).parquet(fact)

    changed = spark.read.parquet(fact).filter(F.col("d") == last_day)
    # (a) partition pruning on the refresh scan
    plan = plan_of(changed)
    pruned = [f for s in nodes(plan, "FileSourceScan") for f in s.partition_filters]
    assert any(last_day in f for f in pruned), plan

    day_agg(changed).write.option("partitionOverwriteMode", "dynamic").partitionBy(
        "d"
    ).mode("overwrite").parquet(agg)

    # (b) untouched agg partitions byte-identical
    after = snapshot(agg)
    target = f"d={last_day}"
    assert set(after) == set(before)
    for part in before:
        if part == target:
            assert after[part] != before[part]
        else:
            assert after[part] == before[part], f"{part} touched by refresh"

    # (c) incremental result == full recompute
    inc = {
        (r.d, r.n, float(r.total_dec))
        for r in spark.read.parquet(agg).collect()
    }
    full = {
        (r.d, r.n, float(r.total_dec))
        for r in day_agg(spark.read.parquet(fact)).collect()
    }
    assert inc == full


def test_sink_queries_run_concurrently(spark, sf_dir):
    """Round-6 ADVICE regression: s13/s15/s16/ops2 write scratch layouts —
    per-process + per-run paths mean two concurrent executions of the SAME
    sink queries must not clobber each other (the old fixed shared path
    failed exactly here under bench + tests overlap). Runs the four
    layout-writing queries in two racing threads and checks both get
    identical, complete results."""
    import threading

    from trafficanalysisbigdata_spark.plans.registry import load_all

    prep(spark)
    specs = load_all()
    names = ["s13_sorted_layout_scan", "s16_incremental_agg_refresh"]
    results: dict[tuple[int, str], list] = {}
    errors: list[Exception] = []

    def run(tid: int):
        try:
            for n in names:
                results[(tid, n)] = sorted(
                    map(tuple, specs[n].run(spark, sf_dir).collect())
                )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run, args=(t,)) for t in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not errors, errors
    for n in names:
        assert results[(0, n)] == results[(1, n)], f"{n} diverged across threads"
        assert results[(0, n)], f"{n} returned no rows"


def _sink_queries() -> list[str]:
    from trafficanalysisbigdata_spark.plans.registry import load_all

    return sorted(n for n, spec in load_all().items() if "sink" in spec.tags)


@pytest.mark.parametrize("name", _sink_queries())
def test_sink_query_results_survive_a_rerun(spark, sf_dir, name):
    """A sink query's result reads files the query wrote. Running the query
    again in the same session must not touch them: the FIRST result, collected
    after the second run, still equals the second (s7–s10 once wrote to a
    fixed per-process path, so the rerun deleted the first result's files)."""
    from trafficanalysisbigdata_spark.plans.registry import load_all

    spec = load_all()[name]
    first = spec.run(spark, sf_dir)
    second = sorted(map(tuple, spec.run(spark, sf_dir).collect()))
    assert second, f"{name} returned no rows"
    assert sorted(map(tuple, first.collect())) == second


@pytest.mark.parametrize(
    "name",
    [
        "s12_bucketed_join",
        "st7_stateful_running_totals",
        "st9_watermark_dedup_stream",
        "st10_session_window_stream",
    ],
)
def test_stream_query_leaves_no_sink_view(spark, sf_dir, name):
    """st7/st9/st10 drain a real stream into a memory sink whose rows are a
    uuid-named temp view, and s12 joins two uuid-named bucketed tables. The
    query drops those catalog entries once its result frame is bound —
    otherwise a long-lived session's catalog keeps every run's — and the
    result still collects afterwards."""
    from trafficanalysisbigdata_spark.plans.registry import load_all

    spec = load_all()[name]
    before = {t.name for t in spark.catalog.listTables()}
    out = spec.run(spark, sf_dir)
    left = {t.name for t in spark.catalog.listTables()} - before - set(spec.tables)
    assert not left, f"{name} left views behind: {left}"
    assert out.collect()


class _TrackedStub:
    """A tracked frame whose SparkContext is live or stopped (``_jsc`` None)
    and whose ``unpersist`` records the call or raises ``error``."""

    def __init__(self, stopped: bool, error: Exception | None = None):
        from types import SimpleNamespace

        jsc = None if stopped else object()
        self.sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))
        self.error, self.released = error, False

    def unpersist(self):
        if self.error is not None:
            raise self.error
        self.released = True


def test_release_caches_skips_only_stopped_contexts(monkeypatch):
    """A frame whose SparkContext is stopped holds nothing to release: it is
    skipped (its unpersist is never called) and the live one is released."""
    from trafficanalysisbigdata_spark import io
    from trafficanalysisbigdata_spark.plans import registry

    monkeypatch.setattr(io, "_LEFT_BEHIND", io._LeftBehind())
    live = registry.track_cache(_TrackedStub(stopped=False))
    registry.track_cache(_TrackedStub(stopped=True, error=RuntimeError("context stopped")))
    assert registry.release_caches() == 2
    assert live.released and not io._LEFT_BEHIND.frames


def test_release_caches_propagates_unpersist_errors(monkeypatch):
    """Any other unpersist failure is a fault, not a silent fallback."""
    from trafficanalysisbigdata_spark import io
    from trafficanalysisbigdata_spark.plans import registry

    monkeypatch.setattr(io, "_LEFT_BEHIND", io._LeftBehind())
    registry.track_cache(_TrackedStub(stopped=False, error=RuntimeError("unpersist failed")))
    with pytest.raises(RuntimeError, match="unpersist failed"):
        registry.release_caches()


def test_release_caches_refuses_a_leaf_of_a_stopped_context(monkeypatch):
    """A scratch leaf outlives its SparkContext on disk, so a stopped context
    is a delete failure, not a leaf to skip."""
    from trafficanalysisbigdata_spark import io
    from trafficanalysisbigdata_spark.plans import registry

    monkeypatch.setattr(io, "_LEFT_BEHIND", io._LeftBehind())
    stopped = _TrackedStub(stopped=True).sparkSession
    io._LEFT_BEHIND.leaves.append((stopped, "file:/nowhere/s7-0"))
    with pytest.raises(RuntimeError, match="SparkContext is stopped"):
        registry.release_caches()


def _scratch_queries() -> list[str]:
    """Registry queries whose function asks ``io.scratch_dir`` for a leaf."""
    import inspect

    from trafficanalysisbigdata_spark.plans.registry import load_all

    return sorted(n for n, s in load_all().items() if "scratch_dir(" in inspect.getsource(s.fn))


def test_release_caches_frees_every_scratch_leaf_and_tracked_frame(spark, sf_dir, monkeypatch):
    """Each query that writes scratch files, plus the two that persist a
    frame, run and collected; then release_caches(): the scratch root lists
    what it listed before (a leaf handed out but never written included) and
    every tracked frame is unpersisted. A harness that releases after each
    consumed result keeps the scratch root from growing."""
    from trafficanalysisbigdata_spark.io import scratch_dir
    from trafficanalysisbigdata_spark.plans import registry

    names = _scratch_queries()
    assert len(names) == 15, names  # s7–s16, ops2, st7, st9, st10, st11
    tracked, track = [], registry.track_cache

    def spy(df):
        tracked.append(df)
        return track(df)

    monkeypatch.setattr(registry, "track_cache", spy)
    registry.release_caches()  # start from an empty record
    root = os.path.dirname(scratch_dir(spark, "unwritten"))
    before = sorted(os.listdir(root)) if os.path.isdir(root) else []
    specs = registry.load_all()
    for name in [*names, "olap9_pareto_abc", "pipe11_token_budget_select"]:
        assert specs[name].run(spark, sf_dir).collect(), f"{name} returned no rows"
    assert len(tracked) == 2 and tracked[-1].storageLevel.useMemory
    registry.release_caches()
    assert sorted(os.listdir(root)) == before
    assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk for df in tracked)


def test_rolling_median_short_frames(spark):
    """w10's composition must yield the discrete median on frames shorter
    than the window width (warm-up rows) — element_at(ceil(n/2)) on n=1..3."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, 1.0), (1, 3, 9.0), (1, 4, 3.0)],
        "user_id long, event_id long, value double",
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    out = {
        r.event_id: r.med
        for r in df.select(
            "event_id",
            F.element_at(arr, F.ceil(F.size(arr) / 2).cast("int")).alias("med"),
        ).collect()
    }
    # frames: [5] -> 5; [1,5] -> 1 (disc lower-middle); [1,5,9] -> 5;
    # [1,3,5,9] -> 3
    assert out == {1: 5.0, 2: 1.0, 3: 5.0, 4: 3.0}


def test_multiset_ops_empty_sides(spark):
    """set2's ALL forms on empty/disjoint sides: INTERSECT ALL with an
    empty side is empty; EXCEPT ALL with an empty subtrahend is the bag
    itself, multiplicity preserved."""
    from trafficanalysisbigdata_spark.operators.setops import except_all, intersect_all

    a = spark.createDataFrame([(1,), (1,), (2,)], "user_id long")
    empty = spark.createDataFrame([], "user_id long")
    assert intersect_all(a, empty).count() == 0
    assert sorted(r.user_id for r in except_all(a, empty).collect()) == [1, 1, 2]
    # multiplicity arithmetic: {1,1,2} ∩all {1} = {1}; {1,1,2} \all {1} = {1,2}
    b = spark.createDataFrame([(1,)], "user_id long")
    assert sorted(r.user_id for r in intersect_all(a, b).collect()) == [1]
    assert sorted(r.user_id for r in except_all(a, b).collect()) == [1, 2]


def test_two_stage_rerank_small_corpus(spark):
    """sim9 when the corpus is smaller than the shortlist: every non-self,
    nonzero-norm neighbor survives to the rerank and top-k truncates
    correctly."""
    from trafficanalysisbigdata_spark.operators.similarity import (
        two_stage_rerank_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.5, 2.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    out = two_stage_rerank_topk(df, df.filter("vec_id = 0"), k=10)
    rows = out.collect()
    assert {r.neighbor_id for r in rows} == {1, 2, 3}
    cos = [r.cos for r in sorted(rows, key=lambda r: -r.cos)]
    assert cos == sorted(cos, reverse=True)


def test_olap9_empty_catalog(spark, tmp_path):
    """olap9's range-bounds driver action returns NULL percentiles over an
    empty catalog; the `or []` guard must degrade to one bucket and an
    empty result instead of raising at plan-build time (round-9 advice).
    The registry wrapper re-registers views from sf_dir, so the empty
    catalog must BE an sf_dir: a zero-row lineitem.parquet in a tmpdir
    (a temp view would be clobbered by register_views)."""
    from trafficanalysisbigdata_spark.plans.registry import queries

    spark.createDataFrame(
        [],
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = queries()["olap9_pareto_abc"](spark.newSession(), str(tmp_path))
    assert out.count() == 0


def test_two_phase_prefix_sum_matches_naive_window(spark):
    """two_phase_prefix_sums over one ungrouped column (olap9's and pipe11's
    use) == a naive single-partition window cumsum on a frame with duplicate
    keys (tie groups spanning bucket cut candidates), both directions."""
    from pyspark.sql.window import Window

    from trafficanalysisbigdata_spark.operators.prefixsum import (
        two_phase_prefix_sums,
    )

    rows = [(i, float(k), v) for i, (k, v) in enumerate(
        [(5, 10), (1, 1), (5, 20), (3, 7), (1, 2), (9, 100), (3, 5), (5, 30)]
    )]
    df = spark.createDataFrame(rows, "id long, key double, v long")
    for desc in (False, True):
        order = [F.desc("key") if desc else F.asc("key"), F.asc("id")]
        naive = {
            r["id"]: r["cum"]
            for r in df.withColumn(
                "cum",
                F.sum("v").over(
                    Window.partitionBy(F.lit(0))
                    .orderBy(*order)
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
            ).collect()
        }
        got = two_phase_prefix_sums(
            df.repartition(4),
            key="key",
            values={"cum": "v"},
            descending=desc,
            tiebreak=("id",),
            n_buckets=3,
            totals={"tot": "v"},
        ).collect()
        assert {r["id"]: r["cum"] for r in got} == naive
        assert all(r["tot"] == 175 for r in got)


def test_two_phase_prefix_sum_empty_frame(spark):
    """Zero rows: the bounds action yields NULL cuts and the operator must
    return an empty (not raising) frame with the new columns, both
    directions."""
    from trafficanalysisbigdata_spark.operators.prefixsum import (
        two_phase_prefix_sums,
    )

    df = spark.createDataFrame([], "id long, key double, v long")
    for desc in (False, True):
        out = two_phase_prefix_sums(
            df, key="key", values={"cum": "v"}, descending=desc, totals={"tot": "v"}
        )
        assert out.count() == 0
        assert {"cum", "tot"} <= set(out.columns)


def test_connected_components_no_edges(spark, cc_arm):
    """pipe12's singleton path: an empty edge list must yield an empty label
    frame (every doc then coalesces to its own cluster downstream), not an
    error from the fixpoint loop or the union-find."""
    from trafficanalysisbigdata_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "doc1 long, doc2 long")
    assert connected_components(pairs).count() == 0


def test_connected_components_size_gate_picks_the_arm(spark, cc_arm, monkeypatch):
    """The gate decides on the checkpointed edge list: a 20-edge chain sits
    far under the default broadcast bound and runs ≤ 3 jobs after the edge
    checkpoint (one grouped union-find task, checkpointed). Its twin, forced
    onto the loop by a -1 bound, launches at least one job per round — more
    than 3. The returned frame is collected only after CC has freed the
    edge list (blocking here, so a plan that still read it would fail)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from trafficanalysisbigdata_spark.operators import components

    sc = spark.sparkContext
    group = f"cc-gate-{cc_arm}"
    checkpoint, free = DataFrame.localCheckpoint, components._free_checkpoint
    after_edges, freed = [], []

    def checkpoint_and_mark(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        if not after_edges:  # CC's first checkpoint is its edge list
            after_edges.append(set(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    def free_and_record(df):
        freed.append(df)
        free(df)

    monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint_and_mark)
    monkeypatch.setattr(components, "_free_checkpoint", free_and_record)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(20)], "doc1 long, doc2 long")
    sc.setJobGroup(group, "connected components size gate")
    try:
        comp = components.connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(set(sc.statusTracker().getJobIdsForGroup(group)) - after_edges[0])
    rounds = len(freed) - 1  # one free per loop round, plus the edge list's
    if cc_arm == "one_task":
        assert rounds == 0 and jobs <= 3, (rounds, jobs)
    else:
        assert rounds >= 3 and jobs >= rounds, (rounds, jobs)
    freed[-1]._jdf.logicalPlan().rdd().unpersist(True)  # the edge list, gone now
    assert {r.component for r in comp.collect()} == {0}


def test_stored_bytes_of_a_checkpoint_without_blocks_is_zero(spark):
    """The size read has an explicit empty rule, not a fallback: a
    checkpoint with no stored blocks reads 0 bytes (so an empty edge list is
    under any non-negative bound), while its twin with rows reads the bytes
    the block manager holds for them."""
    from trafficanalysisbigdata_spark.operators.components import _stored_bytes

    sc = spark.sparkContext
    empty = spark.createDataFrame(sc.emptyRDD(), "v long, w long").localCheckpoint(eager=True)
    assert empty.rdd.getNumPartitions() == 0
    assert _stored_bytes(empty) == 0
    rows = spark.range(1000).selectExpr("id AS v", "id + 1 AS w").localCheckpoint(eager=True)
    assert _stored_bytes(rows) >= 1000 * 16  # two longs a row, at least


def _bare_signature(fn) -> str:
    """``fn``'s signature without annotations, as a string."""
    import inspect

    sig = inspect.signature(fn)
    return str(
        sig.replace(
            parameters=[p.replace(annotation=p.empty) for p in sig.parameters.values()],
            return_annotation=sig.empty,
        )
    )


def test_connected_components_signature_is_pinned():
    """perfbench patches ``connected_components`` by identity and the scale
    rehearsal calls it positionally: the gate adds no parameter."""
    from trafficanalysisbigdata_spark.operators.components import connected_components

    assert _bare_signature(connected_components) == "(pairs)"


# operator -> (module under operators/, its pinned signature)
PINNED_SIGNATURES = {
    "lsh_neardup_pairs": (
        "similarity",
        "(corpus, threshold, n_tables=16, n_planes=None, dim=64, max_bucket=None, "
        "n_rows=None, collapse=False)",
    ),
    "ngram_jaccard_scores": ("dedup", "(docs)"),
    "two_phase_prefix_sums": (
        "prefixsum",
        "(df, key, values, descending=False, group=(), tiebreak=(), n_buckets=8, "
        "totals=None, cuts_from=None)",
    ),
}


@pytest.mark.parametrize("name", sorted(PINNED_SIGNATURES))
def test_gated_operator_signature_is_pinned(name):
    """Each near-dup scale gate is the only thing that picks its arm (tests
    move the module constant it reads), and one prefix-sum operator serves
    every direction: no parameter that forces an arm or clones an operator
    grows back unnoticed."""
    import importlib

    module, expected = PINNED_SIGNATURES[name]
    mod = importlib.import_module(f"trafficanalysisbigdata_spark.operators.{module}")
    assert _bare_signature(getattr(mod, name)) == expected


REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "trafficanalysisbigdata_spark"


def _shipped_sources() -> dict[str, str]:
    """Code that ships: the package, ``scripts/``, ``perfbench/`` (less its
    own tests), ``bench.py`` and ``__spark_entry__.py`` — tests do not count."""
    paths = [
        *PACKAGE.rglob("*.py"),
        *(REPO / "scripts").glob("*.py"),
        *(p for p in (REPO / "perfbench").rglob("*.py") if not p.name.startswith("test_")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    return {str(p.relative_to(REPO)): p.read_text() for p in paths}


_NOT_LITERAL = object()


def _literal(node: ast.expr):
    """``node``'s value when it is a literal, else ``_NOT_LITERAL``."""
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError):
        return _NOT_LITERAL


def _module_of(path: str) -> str:
    """The dotted module name of a repo-relative ``.py`` path."""
    parts = path.removesuffix(".py").split("/")
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Bindings:
    """What each name of one module is bound to: its top-level functions,
    its constants (a name bound once in the whole module, by a top-level
    assignment of a literal) and its imports at any depth, as
    ``(module, name)`` pairs where ``name`` is None for a module import."""

    def __init__(self, path: str, src: str):
        self.module = _module_of(path)
        package = self.module
        if not path.endswith("__init__.py"):
            package = package.rpartition(".")[0]
        self.tree = ast.parse(src)
        self.functions = {n.name for n in self.tree.body if isinstance(n, ast.FunctionDef)}
        self.imports: dict[str, list[tuple[str, str | None]]] = {}
        self.bound: dict[str, int] = {}
        for node in ast.walk(self.tree):
            names = []
            if isinstance(node, ast.Import):
                for a in node.names:
                    alias = a.asname or a.name.partition(".")[0]
                    target = a.name if a.asname else alias
                    self.imports.setdefault(alias, []).append((target, None))
                    names.append(alias)
            elif isinstance(node, ast.ImportFrom):
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                source = ".".join(filter(None, [*(base if node.level else []), node.module]))
                for a in node.names:
                    self.imports.setdefault(a.asname or a.name, []).append((source, a.name))
                    names.append(a.asname or a.name)
            elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                names.append(node.id)
            elif isinstance(node, ast.arg):
                names.append(node.arg)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.append(node.name)
            for n in names:
                self.bound[n] = self.bound.get(n, 0) + 1
        self.constants = {
            s.targets[0].id: _literal(s.value)
            for s in self.tree.body
            if isinstance(s, ast.Assign)
            and len(s.targets) == 1
            and isinstance(s.targets[0], ast.Name)
            and self.bound[s.targets[0].id] == 1
            and _literal(s.value) is not _NOT_LITERAL
        }


def _resolve(modules: dict[str, _Bindings], module: str, node: ast.expr, depth=0) -> list:
    """What ``node`` (a name or ``alias.name``) in ``module`` denotes, as
    ``("function", module, name)``, ``("constant", value)`` or
    ``("module", name)`` entries; empty for anything else (a local, a
    method of an object that is not a module, a name from outside)."""
    if isinstance(node, ast.Attribute):
        owners = [o[1] for o in _resolve(modules, module, node.value, depth) if o[0] == "module"]
        return [t for owner in owners for t in _member(modules, owner, node.attr, depth)]
    if not isinstance(node, ast.Name) or module not in modules or depth > 8:
        return []
    b = modules[module]
    if node.id in b.functions:
        return [("function", module, node.id)]
    if node.id in b.constants:
        return [("constant", b.constants[node.id])]
    found = []
    for source, name in b.imports.get(node.id, []):
        if name is None:
            found.append(("module", source))
        else:
            found += _member(modules, source, name, depth + 1)
    return found


def _member(modules: dict[str, _Bindings], module: str, name: str, depth: int) -> list:
    """What ``module.name`` denotes: a submodule, or the name in ``module``."""
    if f"{module}.{name}" in modules:
        return [("module", f"{module}.{name}")]
    return _resolve(modules, module, ast.Name(name, ast.Load()), depth)


def _value(modules: dict[str, _Bindings], module: str, node: ast.expr):
    """``node``'s value when it is a literal or names a constant, else
    ``_NOT_LITERAL``."""
    lit = _literal(node)
    if lit is not _NOT_LITERAL:
        return lit
    if isinstance(node, ast.Name) and modules[module].bound.get(node.id, 0) > 1:
        return _NOT_LITERAL  # bound again somewhere in the module: a variable
    values = [t[1] for t in _resolve(modules, module, node) if t[0] == "constant"]
    return values[0] if len(values) == 1 else _NOT_LITERAL


def _shipped_calls(defining: dict[str, str], shipped: dict[str, str]):
    """The bindings of every module, and each shipped call under the
    ``(module, function)`` it calls, with the calling module."""
    bindings = [_Bindings(p, s) for p, s in {**shipped, **defining}.items()]
    modules = {b.module: b for b in bindings}
    calls: dict[tuple[str, str], list[tuple[str, ast.Call]]] = {}
    for path in shipped:
        caller = _module_of(path)
        for node in ast.walk(modules[caller].tree):
            if isinstance(node, ast.Call):
                for t in _resolve(modules, caller, node.func):
                    if t[0] == "function":
                        calls.setdefault(t[1:], []).append((caller, node))
    return modules, calls


def _unused_defaults(defining: dict[str, str], shipped: dict[str, str]) -> list[str]:
    """``path:function(param)`` for each defaulted parameter of a public
    module-level function in ``defining`` that no call in ``shipped`` sets,
    by keyword or by position, to anything but its default: a literal, or a
    name bound to a literal constant, equal to the default restates it and
    does not count. A call counts for the function it calls: a name defined
    in or imported from the defining module, or ``alias.name`` with
    ``alias`` an imported module; a method call on any other object does
    not. Functions no shipped code calls are out of scope, and so are class
    methods."""
    modules, calls = _shipped_calls(defining, shipped)
    unused = []
    for path in sorted(defining):
        module = _module_of(path)
        for fn in modules[module].tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            if (module, fn.name) not in calls:
                continue
            a = fn.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            defaults.update(
                (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            )
            defaults = {p: _value(modules, module, d) for p, d in defaults.items()}
            passed = set()
            for caller, call in calls[module, fn.name]:
                given = [*zip(positional, call.args), *((k.arg, k.value) for k in call.keywords)]
                for p, v in given:
                    if p in defaults:
                        value = _value(modules, caller, v)
                        if value is _NOT_LITERAL or value != defaults[p]:
                            passed.add(p)
            unused += [f"{path}:{fn.name}({p})" for p in defaults if p not in passed]
    return unused


def test_every_default_has_a_shipped_caller():
    """An engine parameter exists only while shipped code sets it: a value
    only its default or a test ever takes is a module constant (which a test
    patches) or inline code, not a switch on the public signature."""
    defining = {str(p.relative_to(REPO)): p.read_text() for p in PACKAGE.rglob("*.py")}
    assert _unused_defaults(defining, _shipped_sources()) == []


def test_default_guard_flags_its_twin():
    defining = {"ops.py": "def op(df, k=1, unused=2):\n    return df\n"}
    shipped = {"caller.py": "from ops import op\nop(df, k=3)\n"}
    assert _unused_defaults(defining, shipped) == ["ops.py:op(unused)"]


def test_default_guard_flags_a_restated_default():
    """A call that passes the default back, by keyword or by position, does
    not set the parameter; a variable might, so it counts."""
    defining = {"ops.py": "def op(df, k=1):\n    return df\n"}
    call = "from ops import op\n"
    assert _unused_defaults(defining, {"c.py": call + "op(df, k=1)\n"}) == ["ops.py:op(k)"]
    assert _unused_defaults(defining, {"c.py": call + "op(df, 1.0)\n"}) == ["ops.py:op(k)"]
    assert _unused_defaults(defining, {"c.py": call + "op(df, k=n)\n"}) == []


def test_default_guard_resolves_constants():
    """A module constant equal to the default restates it, whether the
    calling module defines it or imports it; a local of the same name is a
    variable, so it counts."""
    defining = {"ops.py": "K = 1\ndef op(df, k=1):\n    return df\n"}
    own = "from ops import op\nK = 1\nop(df, k=K)\n"
    imported = "from ops import K, op\nop(df, k=K)\n"
    local = "def f(df):\n    K = 2\n    return op(df, k=K)\n"
    assert _unused_defaults(defining, {"c.py": own}) == ["ops.py:op(k)"]
    assert _unused_defaults(defining, {"c.py": imported}) == ["ops.py:op(k)"]
    assert _unused_defaults(defining, {"c.py": own + local}) == []
    assert _unused_defaults(defining, {"c.py": imported + local}) == []


def test_default_guard_resolves_callees():
    """A call counts for the function it calls: a method of an object that
    is not a module does not, and ``alias.op`` through an imported module
    does, as does a name imported inside a function."""
    defining = {"ops.py": "def op(df, k=1):\n    return df\n"}
    method = "from ops import op\nop(df)\nx.op(df, k=3)\n"
    alias = "import ops as o\no.op(df, k=3)\n"
    nested = "def f(df):\n    from ops import op\n    return op(df, k=3)\n"
    assert _unused_defaults(defining, {"c.py": method}) == ["ops.py:op(k)"]
    assert _unused_defaults(defining, {"c.py": alias}) == []
    assert _unused_defaults(defining, {"c.py": nested}) == []
    assert _unused_defaults(defining, {"c.py": "x.op(df, k=3)\n"}) == []


_PROBE_ERRORS = {"ImportError", "ModuleNotFoundError"}


def _import_probes(sources: dict[str, str]) -> list[str]:
    """``path:line`` of each mention of ``ImportError`` or
    ``ModuleNotFoundError`` — an ``except`` clause (or ``suppress``) that
    picks an arm by which packages happen to be installed."""
    return [
        f"{path}:{node.lineno}"
        for path, src in sorted(sources.items())
        for node in ast.walk(ast.parse(src))
        if (getattr(node, "id", None) or getattr(node, "attr", None)) in _PROBE_ERRORS
    ]


def test_engine_has_no_import_probe():
    """No engine code picks an arm by whether a package imports: a host
    without the package only ever runs the fallback, and an artifact
    stamped by source digest would not notice the package arriving."""
    sources = {str(p.relative_to(REPO)): p.read_text() for p in PACKAGE.rglob("*.py")}
    assert _import_probes(sources) == []


def test_import_probe_guard_flags_its_twin():
    probe = "try:\n    import x\nexcept ImportError:\n    x = None\n"
    tupled = "try:\n    import x\nexcept (OSError, ModuleNotFoundError):\n    x = None\n"
    plain = "try:\n    import x\nexcept OSError:\n    x = None\n"
    assert _import_probes({"a.py": probe, "b.py": tupled, "c.py": plain}) == [
        "a.py:3",
        "b.py:3",
    ]


def test_two_phase_prefix_sums_grouped_matches_naive(spark):
    """two_phase_prefix_sums (grouped, multi-column) == per-group naive
    window cumsums in both directions, on a frame with duplicate keys
    spanning bucket-cut candidates and groups of unequal size; empty frame
    returns empty."""
    from pyspark.sql.window import Window

    from trafficanalysisbigdata_spark.operators.prefixsum import (
        two_phase_prefix_sums,
    )

    rows = [
        (i, g, float(k), v, w)
        for i, (g, k, v, w) in enumerate(
            [
                ("a", 5, 10, 1), ("a", 1, 1, 2), ("a", 5, 20, 3),
                ("b", 3, 7, 4), ("a", 1, 2, 5), ("b", 9, 100, 6),
                ("b", 3, 5, 7), ("a", 5, 30, 8), ("c", 2, 11, 9),
            ]
        )
    ]
    df = spark.createDataFrame(rows, "id long, g string, key double, v long, w long")
    for desc in (False, True):
        naive_w = (
            Window.partitionBy("g")
            .orderBy(F.desc("key") if desc else F.asc("key"), F.asc("id"))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        naive = {
            r["id"]: (r["cv"], r["cw"])
            for r in df.withColumn("cv", F.sum("v").over(naive_w))
            .withColumn("cw", F.sum("w").over(naive_w))
            .collect()
        }
        got = two_phase_prefix_sums(
            df.repartition(4),
            key="key",
            values={"cv": "v", "cw": "w"},
            descending=desc,
            group=("g",),
            tiebreak=("id",),
            n_buckets=3,
        ).collect()
        assert {r["id"]: (r["cv"], r["cw"]) for r in got} == naive

    empty = spark.createDataFrame([], "id long, g string, key double, v long")
    out = two_phase_prefix_sums(
        empty, key="key", values={"cv": "v"}, group=("g",)
    )
    assert out.count() == 0
    assert "cv" in out.columns
