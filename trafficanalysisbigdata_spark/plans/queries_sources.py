"""Source/sink queries (SURVEY.md §2.1: S2/S5/S7) — the scan-surface tail
round 1 left driver-invisible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import sum_exact
from ..io import scratch_dir, write_partitioned
from .registry import register


@register(
    "s2_single_page_scan",
    oracle="""
    WITH page AS (
      SELECT event_id, value FROM events ORDER BY event_id LIMIT 1000
    )
    SELECT COUNT(*) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM page
    """,
    tags=("source", "S2"),
    tables=("events",),
)
def s2_single_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (ref QuickFetch.py:31-48, first-page-only fetch): the first 1000
    rows in feed order. A bare ``.limit`` grabs arbitrary partitions, so the
    page is pinned to id order — Spark plans it as TakeOrderedAndProject."""
    page = spark.table("events").select("event_id", "value").orderBy("event_id").limit(1000)
    return page.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
    )


@register(
    "s5_pandas_handoff",
    oracle="""
    WITH src AS (
      SELECT i AS rid,
             CASE WHEN i % 13 = 0 THEN 'oops' ELSE CAST(i * 3 AS VARCHAR) END AS vol
      FROM (SELECT UNNEST(range(200)) AS i)
    )
    SELECT COUNT(*) AS n,
           CAST(SUM(TRY_CAST(vol AS INT)) AS BIGINT) AS sum_vol,
           CAST(SUM(CASE WHEN TRY_CAST(vol AS INT) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_malformed
    FROM src
    """,
    tags=("source", "S5"),
    tables=(),
)
def s5_pandas_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (ref TrafficAnalysis.py:124-127): driver-side pandas frame →
    Arrow-backed createDataFrame → typed cast (volume to int, NULL on
    malformed). The handoff belongs ONLY at ingest boundaries; everything
    downstream is a plain distributed DataFrame."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "rid": range(200),
            "vol": ["oops" if i % 13 == 0 else str(i * 3) for i in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    typed = df.withColumn("vol_i", F.col("vol").try_cast("int"))
    return typed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vol_i").cast("bigint").alias("sum_vol"),
        F.sum(F.col("vol_i").isNull().cast("int")).cast("bigint").alias("n_malformed"),
    )


_TYPE_TOTALS_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY event_type ORDER BY event_type
"""


def _type_totals(back: DataFrame) -> DataFrame:
    """Per-event_type row count and exact value total of a read-back sink:
    ``_TYPE_TOTALS_ORACLE`` over the original table, so a round-trip that
    drops, duplicates or alters a row breaks the match."""
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), sum_exact("value", "total"))
        .orderBy("event_type")
    )


@register(
    "s7_partitioned_sink_roundtrip",
    oracle=_TYPE_TOTALS_ORACLE,
    tags=("sink", "S7"),
    tables=("events",),
)
def s7_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: write events as an event_type-partitioned parquet layout (the
    lakehouse fact-table shape — partition pruning comes free on the read
    side), read it back, aggregate. The oracle aggregates the original
    table, so the round-trip must preserve every row and value exactly."""
    ev = spark.table("events").select("event_id", "event_type", "value")
    out = scratch_dir(spark, "s7")
    write_partitioned(ev, out, partition_by=["event_type"])
    return _type_totals(spark.read.parquet(out))


@register(
    "s8_csv_roundtrip",
    oracle=_TYPE_TOTALS_ORACLE,
    tags=("scan", "sink", "csv"),
    tables=("events",),
)
def s8_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange: write events to headered CSV, read back with an
    EXPLICIT schema (inference costs an extra full scan and guesses types —
    never at 100 TB), aggregate. `value` travels as its full repr so the
    float round-trips bit-exactly; the oracle aggregates the original
    parquet, so text serialization must lose nothing."""
    ev = spark.table("events").select("event_id", "event_type", "value")
    out = scratch_dir(spark, "s8")
    ev.write.option("header", True).csv(out)
    back = spark.read.schema("event_id bigint, event_type string, value double").option(
        "header", True
    ).csv(out)
    return _type_totals(back)


@register(
    "s9_orc_roundtrip",
    oracle=_TYPE_TOTALS_ORACLE,
    tags=("scan", "sink", "orc"),
    tables=("events",),
)
def s9_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange (the other columnar lake format Spark ships a
    vectorized reader for): write, read back, aggregate — same oracle as s8,
    so both containers must preserve rows and values exactly."""
    ev = spark.table("events").select("event_id", "event_type", "value")
    out = scratch_dir(spark, "s9")
    ev.write.orc(out)
    return _type_totals(spark.read.orc(out))


@register(
    "s10_schema_evolution",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_user,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("scan", "sink", "schema_evolution"),
    tables=("events",),
)
def s10_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution in a parquet lake: generation 1 files lack the
    user_id column, generation 2 adds it; a mergeSchema read unifies them
    with NULLs for the missing column. The oracle knows exactly which rows
    came from which generation (even/odd ids), so the merge must preserve
    every row, value, and the NULL pattern. At scale, mergeSchema reads
    every file footer at planning time — production pins the unified schema
    in a metastore instead; the read semantics are identical."""
    ev = spark.table("events")
    out = scratch_dir(spark, "s10")
    gen1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    gen2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value", "user_id"
    )
    gen1.write.parquet(os.path.join(out, "gen=1"))
    gen2.write.parquet(os.path.join(out, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "gen=1"), os.path.join(out, "gen=2")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("user_id").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_with_user"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


@register(
    "s11_small_file_compaction",
    oracle=_TYPE_TOTALS_ORACLE,
    tags=("sink", "compaction", "ops"),
    tables=("events",),
)
def s11_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem, fixed in-engine: a fragmented layout (64
    files here; in production, thousands of per-micro-batch or per-partition
    stragglers) is compacted by read → repartition(4) → rewrite. Footer and
    task overhead scale with FILE COUNT, not bytes, so compaction is a
    routine 100 TB maintenance pass. The oracle aggregates the original
    table — compaction must be a pure layout change, zero row/value drift;
    tests/test_operator_edges.py asserts the file counts actually collapse."""
    ev = spark.table("events").select("event_id", "event_type", "value")
    base = scratch_dir(spark, "s11")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    ev.repartition(64).write.parquet(frag)
    spark.read.parquet(frag).repartition(4).write.parquet(compact)
    return _type_totals(spark.read.parquet(compact))


@register(
    "s12_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    tags=("sink", "bucketing", "join"),
    tables=("orders", "customer"),
)
def s12_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-layout payoff as a query: both join sides are written
    bucketed (8 buckets) on the join key, then joined from the bucketed
    tables — the shuffle happened once at write time and is amortized over
    every later join on that key (the 100 TB strategy for repeatedly-joined
    fact tables). The oracle joins the ORIGINAL tables, so bucketed writes
    must lose nothing; the zero-Exchange plan proof is in
    tests/test_bucketing.py (here, at driver SF, AQE rightly broadcasts)."""
    base = scratch_dir(spark, "s12")
    run_tag = os.path.basename(base).replace("-", "_")
    ot, ct = f"{run_tag}_orders", f"{run_tag}_cust"
    orders = spark.table("orders").select("o_custkey", "o_totalprice")
    cust = spark.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    write_partitioned(
        orders, os.path.join(base, "orders"), bucket_by=(8, ["o_custkey"]),
        table_name=ot,
    )
    write_partitioned(
        cust, os.path.join(base, "cust"), bucket_by=(8, ["o_custkey"]),
        table_name=ct,
    )
    out = (
        spark.table(ot)
        .join(spark.table(ct), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("c_mktsegment")
    )
    # the bound frame keeps both relations and their bucket specs; dropping
    # the uuid-named catalog entries keeps a long-lived session's catalog
    # from growing by two tables a run (external tables: the files stay)
    for t in (ot, ct):
        spark.sql(f"DROP TABLE {t}")
    return out


@register(
    "s13_sorted_layout_scan",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    WHERE ts >= (SELECT MIN(ts) FROM events) + INTERVAL 7 DAY
      AND ts <  (SELECT MIN(ts) FROM events) + INTERVAL 10 DAY
    GROUP BY d ORDER BY d
    """,
    tags=("sink", "layout", "data-skipping"),
    tables=("events",),
)
def s13_sorted_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sorted-layout payoff as a query: events are rewritten
    range-partitioned + sorted on ts (io.write_sorted — disjoint per-file
    spans, tight footer min/max), then a 3-day window is aggregated FROM THE
    SORTED LAYOUT. With LITERAL range bounds (the production shape — "last 3
    days" as timestamps) the predicate pushes to the parquet scan and prunes
    non-overlapping files/row groups against the tight footers, so bytes
    read scale with the window, not the table (the clustering/Z-order idea,
    single column); tests/test_operator_edges.py demonstrates exactly that
    path and asserts the written spans are pairwise disjoint. THIS query
    derives its window from min(ts) (a broadcast scalar) to stay
    deterministic across fixtures — a join-derived bound does NOT push, so
    it checks layout-roundtrip correctness, not pruning. The oracle runs the
    same window over the ORIGINAL table: the layout must be a pure
    reorganization with zero row/value drift."""
    from ..io import write_sorted

    ev = spark.table("events").select("event_id", "ts", "value")
    # per-run path: the scratch rule in the io module docstring
    path = scratch_dir(spark, "s13")
    write_sorted(ev, path, "ts", n_files=8)
    back = spark.read.parquet(path)
    lo = ev.agg(F.min("ts").alias("t0"))
    windowed = (
        back.crossJoin(F.broadcast(lo))
        .filter(
            (F.col("ts") >= F.col("t0") + F.expr("INTERVAL 7 DAYS"))
            & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 10 DAYS"))
        )
    )
    return (
        windowed.groupBy(F.to_date("ts").cast("string").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .orderBy("d")
    )


def correction_delta(ev: DataFrame, last_day: str) -> DataFrame:
    """s14's correction batch: the latest day's rows with values doubled.

    Filters on a PLAIN ts range, not the derived day string: literal bounds
    on the raw column reach the parquet scan as PushedFilters (row-group
    skipping), where ``date_format(ts, 'yyyy-MM-dd') = lit`` would be
    evaluated post-scan (pinned in tests/test_plans.py)."""
    return ev.filter(
        (F.col("ts") >= F.lit(last_day).cast("timestamp"))
        & (F.col("ts") < F.date_add(F.lit(last_day).cast("date"), 1).cast("timestamp"))
    ).withColumn("value", F.col("value") * 2)


@register(
    "s14_partition_upsert",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
           COUNT(*) AS n,
           CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) =
                                   (SELECT MAX(CAST(ts AS DATE)) FROM events)
                              THEN value * 2 ELSE value END
                         AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY d ORDER BY d
    """,
    tags=("sink", "upsert", "partition-overwrite"),
    tables=("events",),
)
def s14_partition_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-lite via dynamic partition overwrite: late-arriving corrections
    replace ONLY the partitions they touch.

    The warehouse-maintenance shape the reference's daily refetch implies
    (TrafficAnalysis.py re-pulls the full dataset each run; a partitioned
    lake only rewrites changed days): events land partitioned by day, then a
    correction batch for the LATEST day (values doubled — a deterministic
    stand-in for restated figures) is written with
    ``partitionOverwriteMode=dynamic``, which atomically swaps that one
    partition and leaves every other day's files untouched (byte-identical
    non-target partitions asserted in tests/test_operator_edges.py). The
    readback aggregate must equal the oracle's CASE-merged view of the
    original table — proving the upsert replaced exactly the target
    partition's rows, no loss, no duplication.

    Scale posture: rewrite cost is proportional to the CHANGED days, not the
    table — at 100 TB with daily partitions, a correction batch rewrites
    ~1/365th of the data; the alternative (full overwrite) rewrites all of
    it. No shuffle: the write is a per-partition file swap, the readback agg
    is one partial+final groupBy.

    r15 continuation MEASURED REJECTION: projecting event_id/ts out of the
    written layout (the ops2 payload-trim move — the readback needs only
    value + the partition key) read full 1.053 vs trim 1.006 s at
    interleaved min-of-8 — a wash, same verdict as s16: this wall is the
    ~60 dynamic-partition files' commit protocol, not payload bytes. ops2
    kept its trim because its single write moves 3× the rows per file."""
    ev = (
        spark.table("events")
        .select("event_id", "ts", "value")
        .withColumn("d", F.to_date("ts").cast("string"))
    )
    base = scratch_dir(spark, "s14")
    ev.write.partitionBy("d").mode("overwrite").parquet(base)

    last_day = ev.agg(F.max("d")).first()[0]  # scalar bound, 1-row collect
    delta = correction_delta(ev, last_day)
    (
        delta.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("d")
        .mode("overwrite")
        .parquet(base)
    )

    back = spark.read.parquet(base)
    return (
        back.groupBy(F.col("d").cast("string").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .orderBy("d")
    )


@register(
    "s15_zorder_layout_scan",
    oracle="""
    WITH b AS (
      SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
             MIN(value) AS vlo, MAX(value) AS vhi
      FROM events
    )
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(MIN(user_id) AS BIGINT) AS min_u,
           CAST(MAX(user_id) AS BIGINT) AS max_u
    FROM events, b
    WHERE user_id >= ulo + 0.25 * (uhi - ulo)
      AND user_id <= ulo + 0.50 * (uhi - ulo)
      AND value   >= vlo + 0.25 * (vhi - vlo)
      AND value   <= vlo + 0.50 * (vhi - vlo)
    """,
    tags=("sink", "layout", "zorder", "data-skipping"),
    tables=("events",),
)
def s15_zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-order payoff as a query: events rewritten Morton-clustered on
    (user_id, value) — io.write_zorder — then a BOX predicate on both
    dimensions is aggregated FROM THE CLUSTERED LAYOUT.

    With literal box bounds (the production shape) the two range predicates
    push to the parquet scan and prune against per-file footers that are
    tight on BOTH columns simultaneously — bytes read scale with the box
    volume, which no single-column sort can give you
    (tests/test_operator_edges.py asserts the per-file min/max boxes cover a
    fraction of the domain on each dimension, vs ~the full domain for a
    round-robin write of the same rows). This query derives its box from
    min/max scalars (broadcast) to stay deterministic across fixtures, so —
    exactly like s13 — it checks layout-roundtrip correctness; the pruning
    behavior itself is pinned in the edge test with literal bounds. The
    oracle runs the same box over the ORIGINAL table: clustering must be a
    pure reorganization, zero row/value drift."""
    from ..io import write_zorder

    ev = spark.table("events").select("event_id", "user_id", "value")
    path = scratch_dir(spark, "s15")
    write_zorder(ev, path, "user_id", "value", n_files=8)
    back = spark.read.parquet(path)

    b = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("value").alias("vlo"),
        F.max("value").alias("vhi"),
    )
    boxed = back.crossJoin(F.broadcast(b)).filter(
        (F.col("user_id") >= F.col("ulo") + 0.25 * (F.col("uhi") - F.col("ulo")))
        & (F.col("user_id") <= F.col("ulo") + 0.50 * (F.col("uhi") - F.col("ulo")))
        & (F.col("value") >= F.col("vlo") + 0.25 * (F.col("vhi") - F.col("vlo")))
        & (F.col("value") <= F.col("vlo") + 0.50 * (F.col("vhi") - F.col("vlo")))
    )
    return boxed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        F.min("user_id").cast("bigint").alias("min_u"),
        F.max("user_id").cast("bigint").alias("max_u"),
    )


@register(
    "s16_incremental_agg_refresh",
    oracle="""
    WITH merged AS (
      SELECT CAST(ts AS DATE) AS d,
             CASE WHEN CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)
                  THEN value * 2 ELSE value END AS value
      FROM events
    )
    SELECT CAST(d AS VARCHAR) AS d,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           (d = (SELECT MAX(CAST(ts AS DATE)) FROM events)) AS refreshed
    FROM merged GROUP BY d ORDER BY d
    """,
    tags=("sink", "materialized-view", "incremental"),
    tables=("events",),
)
def s16_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the step AFTER s14's
    upsert: a day-partitioned AGGREGATE table (the daily-totals dashboard
    feed, A4's shape) is kept consistent with the fact lake by recomputing
    ONLY the corrected day and dynamic-overwriting that one agg partition.
    The reference recomputes every dashboard number from the full frame on
    each refresh (Dash.py); a 100 TB lake refreshes changed partitions.

    Flow: fact lake partitioned by day → agg v0 (per-day n/total, also
    day-partitioned) → correction batch doubles the last day's values
    (s14's delta, dynamic partition overwrite on the fact) → incremental
    refresh reads ONLY the corrected day's fact partition (partition-pruned
    scan, pinned in tests) and swaps ONLY that agg partition. The returned
    agg table must equal the oracle's full recompute over the CASE-merged
    events — stale rows anywhere, double-counting, or a missed partition
    all break the match. The ``refreshed`` flag marks which day was
    maintained incrementally (exactly the max day).

    Scale posture: refresh cost ∝ changed partitions on BOTH the fact scan
    (partition pruning) and the agg write (one-partition dynamic
    overwrite) — table size appears nowhere. The untouched agg partitions'
    files are asserted byte-identical in tests/test_operator_edges.py-style
    in tests/test_plans.py's companion."""
    ev = (
        spark.table("events")
        .select("event_id", "ts", "value")
        .withColumn("d", F.to_date("ts").cast("string"))
    )
    work = scratch_dir(spark, "s16")
    fact = os.path.join(work, "fact")
    agg = os.path.join(work, "agg_daily")
    ev.write.partitionBy("d").mode("overwrite").parquet(fact)

    def day_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("d").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
        )

    # v0 of the materialized aggregate
    day_agg(spark.read.parquet(fact)).write.partitionBy("d").mode(
        "overwrite"
    ).parquet(agg)

    # correction lands on the fact lake (s14's machinery)
    last_day = ev.agg(F.max("d")).first()[0]
    correction_delta(ev, last_day).write.option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("d").mode("overwrite").parquet(fact)

    # incremental refresh: recompute ONLY the corrected day from the pruned
    # fact partition, swap only that agg partition
    changed = spark.read.parquet(fact).filter(F.col("d") == last_day)
    day_agg(changed).write.option("partitionOverwriteMode", "dynamic").partitionBy(
        "d"
    ).mode("overwrite").parquet(agg)

    back = spark.read.parquet(agg)
    return (
        back.select(
            F.col("d").cast("string").alias("d"),
            "n",
            F.col("total_dec").cast("double").alias("total"),
            (F.col("d").cast("string") == last_day).alias("refreshed"),
        )
        .orderBy("d")
    )


@register(
    "s17_variant_json_scan",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("source", "variant", "json", "spark4"),
    tables=("events",),
)
def s17_variant_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over semi-structured props via Spark 4's VARIANT type
    (parse_json → variant_get): the modern replacement for s4's
    from_json-with-declared-schema when the JSON shape drifts — VARIANT
    stores a binary-shredded encoding, paths are extracted lazily, and no
    pipeline redeploy is needed when producers add fields. The reference
    hand-rolls dict access on raw JSON (TrafficAnalysis.py:57-58); a 100 TB
    semi-structured event lake stores VARIANT columns and pays extraction
    only for paths actually queried.

    The query filters on an extracted path then aggregates per type —
    extraction + filter + partial/final agg in one scan, no UDFs. Oracle:
    DuckDB's json_extract over the same strings."""
    ev = spark.table("events")
    k = F.expr("cast(variant_get(parse_json(props), '$.k', 'int') as int)")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )
