"""OLAP extras the engine inherits from Spark for free (SURVEY.md §2.4 notes
them as non-parity-required; a complete engine ships them anyway): rollup,
cube, grouping sets, approximate distinct. All fully oracle-checked —
DuckDB shares the GROUPING SETS surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register


@register(
    "olap1_rollup_region_nation",
    oracle="""
    SELECT COALESCE(r_name, '<all>') AS region,
           COALESCE(n_name, '<all>') AS nation,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal,
           COUNT(*) AS n
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region, nation
    """,
    tags=("olap", "rollup"),
    tables=("supplier", "nation", "region"),
)
def olap1_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region → nation → grand total) in one pass —
    Spark's Expand node emits the grouping-set replicas map-side, so the
    cost is one shuffle regardless of hierarchy depth."""
    sup = (
        spark.table("supplier")
        .join(F.broadcast(spark.table("nation")), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(spark.table("region")), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    return (
        sup.rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("s_acctbal").cast("decimal(18,6)")).cast("double").alias("total_bal"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("region"),
            F.coalesce("n_name", F.lit("<all>")).alias("nation"),
            "total_bal",
            "n",
        )
        .orderBy("region", "nation")
    )


@register(
    "olap2_cube_flag_status",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS flag,
           COALESCE(l_linestatus, '<all>') AS status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY flag, status
    """,
    tags=("olap", "cube"),
    tables=("lineitem",),
)
def olap2_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two categoricals — all four grouping sets in one
    shuffle via Expand."""
    li = spark.table("lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("status"),
            "sum_qty",
            "n",
        )
        .orderBy("flag", "status")
    )


@register(
    "olap3_grouping_sets",
    oracle="""
    SELECT COALESCE(event_type, '<all>') AS etype,
           COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), '<all>') AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)))
    ORDER BY etype, d
    """,
    tags=("olap", "grouping-sets"),
    tables=("events",),
)
def olap3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: by-type and by-day marginals in one pass
    (spark.sql — GROUPING SETS has no DataFrame-API spelling)."""
    return spark.sql(
        """
        SELECT COALESCE(event_type, '<all>') AS etype,
               COALESCE(CAST(to_date(ts) AS STRING), '<all>') AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM events
        GROUP BY GROUPING SETS ((event_type), (to_date(ts)))
        ORDER BY etype, d
        """
    )


@register(
    "olap4_approx_vs_exact_distinct",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS exact_users,
           COUNT(DISTINCT event_type) AS exact_types
    FROM events
    """,
    tags=("olap", "approx"),
    tables=("events",),
)
def olap4_approx_vs_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distincts, oracle-checked. approx_count_distinct (HLL++) is the
    100 TB path but its estimate is engine-specific, so the approx variant
    is asserted separately in tests (within 5% of exact), not hash-compared."""
    ev = spark.table("events")
    return ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_type").alias("exact_types"),
    )


@register(
    "olap5_share_of_total",
    oracle="""
    WITH g AS (
      SELECT event_type,
             SUM(CAST(value AS DECIMAL(18,6))) AS total_dec
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(total_dec AS DOUBLE) AS total,
           ROUND(CAST(total_dec AS DOUBLE)
                 / CAST(SUM(total_dec) OVER () AS DOUBLE), 6) AS share
    FROM g ORDER BY event_type
    """,
    tags=("olap", "share"),
    tables=("events",),
)
def olap5_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (the BI staple): per-type totals over the grand
    total. The grand total is a one-row broadcast rejoined over the grouped
    result — NOT an unpartitioned window over the fact rows, which would
    funnel the whole table through one reducer at scale. Decimal-exact sums
    on both levels keep the ratio engine-identical."""
    from ..functions.numeric import dec

    g = (
        spark.table("events")
        .groupBy("event_type")
        .agg(F.sum(dec("value")).alias("total_dec"))
    )
    grand = g.agg(F.sum("total_dec").alias("grand_dec"))
    return (
        g.crossJoin(F.broadcast(grand))
        .select(
            "event_type",
            F.col("total_dec").cast("double").alias("total"),
            F.round(
                F.col("total_dec").cast("double") / F.col("grand_dec").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("event_type")
    )


@register(
    "olap6_funnel_conversion",
    oracle="""
    WITH pud AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS fc,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
      FROM events GROUP BY 1, 2
    ), staged AS (
      SELECT d,
             (fv IS NOT NULL) AS s1,
             (fv IS NOT NULL AND fc > fv) AS s2,
             (fv IS NOT NULL AND fc > fv AND fp > fc) AS s3
      FROM pud
    )
    SELECT d,
           CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
           CASE WHEN SUM(CASE WHEN s1 THEN 1 ELSE 0 END) > 0
                THEN ROUND(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) * 1.0
                           / SUM(CASE WHEN s1 THEN 1 ELSE 0 END), 6) END AS view_to_click,
           CASE WHEN SUM(CASE WHEN s2 THEN 1 ELSE 0 END) > 0
                THEN ROUND(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) * 1.0
                           / SUM(CASE WHEN s2 THEN 1 ELSE 0 END), 6) END AS click_to_purchase
    FROM staged GROUP BY d ORDER BY d
    """,
    tags=("olap", "funnel"),
    tables=("events",),
)
def olap6_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day conversion funnel (view → click-after-view →
    purchase-after-click), the product-analytics staple the reference's
    dashboard implies but never computes. Stage membership is the
    first-timestamp ordering test min(view) < min(click) < min(purchase)
    per (user, day) — ONE conditional-aggregation pass over events, no
    self-joins and no window over the fact table.

    Scale posture: stage 1 is a (day, user) groupBy — partial aggregation
    combines map-side so the shuffle carries at most one row per (day, user)
    per map task; stage 2 reduces that to one row per day. No per-event
    state survives past the first exchange, which is what makes the funnel
    viable on a 100 TB event log where a sessionization-window approach
    (all of a user's events sorted in one task) would not be needed."""
    ev = spark.table("events")
    pud = ev.groupBy(F.to_date("ts").cast("string").alias("d"), "user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    staged = pud.select(
        "d",
        F.col("fv").isNotNull().alias("s1"),
        (F.col("fv").isNotNull() & (F.col("fc") > F.col("fv"))).alias("s2"),
        (
            F.col("fv").isNotNull()
            & (F.col("fc") > F.col("fv"))
            & (F.col("fp") > F.col("fc"))
        ).alias("s3"),
    )
    daily = staged.groupBy("d").agg(
        F.sum(F.col("s1").cast("bigint")).alias("n_view"),
        F.sum(F.col("s2").cast("bigint")).alias("n_view_click"),
        F.sum(F.col("s3").cast("bigint")).alias("n_full_funnel"),
    )
    return daily.select(
        "d",
        "n_view",
        "n_view_click",
        "n_full_funnel",
        F.when(
            F.col("n_view") > 0,
            F.round(F.col("n_view_click") * 1.0 / F.col("n_view"), 6),
        ).alias("view_to_click"),
        F.when(
            F.col("n_view_click") > 0,
            F.round(F.col("n_full_funnel") * 1.0 / F.col("n_view_click"), 6),
        ).alias("click_to_purchase"),
    ).orderBy("d")


@register(
    "olap7_scd2_intervals",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE user_id < 100
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM seq
    ), grouped AS (
      SELECT user_id, run_id, event_type AS attr,
             MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM runs GROUP BY 1, 2, 3
    )
    SELECT user_id, attr, CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(COALESCE(LEAD(valid_from) OVER w2,
                         TIMESTAMP '9999-12-31 00:00:00') AS VARCHAR) AS valid_to,
           (LEAD(valid_from) OVER w2 IS NULL) AS is_current,
           n_events
    FROM grouped WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, run_id)
    ORDER BY user_id, valid_from
    """,
    tags=("olap", "scd2", "warehouse"),
    tables=("events",),
)
def olap7_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build — the warehouse op that turns
    an event log into validity intervals: per user, consecutive runs of the
    same attribute (event_type stands in for the tracked attribute) collapse
    to one row with [valid_from, valid_to) and an is_current flag on the
    open interval. Gaps-and-islands via lag→change-flag→running-sum run ids,
    then lead() for the interval close — the textbook relational SCD2 shape.

    Scale posture: every window partitions by user_id, so the build is
    embarrassingly parallel across users (no unpartitioned window
    anywhere); the runs collapse is a partial-aggregable groupBy. A user's
    full history must fit one task — true for any real user-keyed log, and
    the same bound every sessionizer accepts. Bounded to user_id < 100 to
    keep the differential result reviewable; the plan is bound-independent."""
    from pyspark.sql.window import Window

    ev = (
        spark.table("events")
        .filter(F.col("user_id") < 100)
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    runs = seq.withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    grouped = runs.groupBy("user_id", "run_id", F.col("event_type").alias("attr")).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # run_id tie-break: two adjacent runs of one user can share valid_from
    # when the run boundary falls between equal-timestamp events (run
    # detection tie-breaks on event_id); run_id is totally ordered per user,
    # so ordering on it makes valid_to/is_current deterministic on BOTH
    # engines (oracle w2 mirrors this).
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    return (
        grouped.withColumn("next_from", F.lead("valid_from").over(w2))
        .select(
            "user_id",
            "attr",
            # string intervals: the 9999-12-31 open-interval sentinel is not
            # representable as a pandas ns timestamp, and strings hash
            # engine-identically
            F.col("valid_from").cast("string").alias("valid_from"),
            F.coalesce(
                F.col("next_from").cast("string"), F.lit("9999-12-31 00:00:00")
            ).alias("valid_to"),
            F.col("next_from").isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "valid_from")
    )


@register(
    "ops1_join_key_skew_profile",
    oracle="""
    WITH freq AS (
      SELECT o_custkey, COUNT(*) AS f FROM orders GROUP BY o_custkey
    ), stats AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(f) AS BIGINT) AS n_rows,
             CAST(MAX(f) AS BIGINT) AS max_freq,
             ROUND(AVG(CAST(f AS DOUBLE)), 6) AS mean_freq,
             CAST(quantile_disc(f, 0.99) AS BIGINT) AS p99_freq
      FROM freq
    )
    SELECT n_keys, n_rows, max_freq, mean_freq, p99_freq,
           ROUND(max_freq / mean_freq, 4) AS skew_ratio,
           ROUND(CAST(max_freq AS DOUBLE) / n_rows, 6) AS top1_share
    FROM stats
    """,
    tags=("ops", "skew", "diagnostics"),
    tables=("orders",),
)
def ops1_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile — the diagnostic that decides a join strategy
    BEFORE it burns a cluster: key cardinality, hottest-key frequency vs the
    mean (skew_ratio is what makes one reducer run max/mean times longer
    than average under hash partitioning), p99 frequency, and the hottest
    key's share of all rows. skew_ratio ≳ 10 ⇒ salt (j7's operator) or rely
    on AQE skew-split; top1_share ≳ 1/shuffle_partitions ⇒ one straggler
    task regardless of partition count. One groupBy + a one-row aggregate —
    the profile itself costs a single shuffle of (key, count) pairs.
    percentile_disc mirrors DuckDB's quantile_disc exactly (order statistic,
    no interpolation)."""
    freq = spark.table("orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("f"))
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("f").cast("bigint").alias("n_rows"),
        F.max("f").cast("bigint").alias("max_freq"),
        F.round(F.avg(F.col("f").cast("double")), 6).alias("mean_freq"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY f)")
        .cast("bigint")
        .alias("p99_freq"),
    )
    return stats.select(
        "n_keys",
        "n_rows",
        "max_freq",
        "mean_freq",
        "p99_freq",
        F.round(F.col("max_freq") / F.col("mean_freq"), 4).alias("skew_ratio"),
        F.round(F.col("max_freq").cast("double") / F.col("n_rows"), 6).alias("top1_share"),
    )


@register(
    "ops2_partition_audit",
    oracle="""
    WITH per_day AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT event_id % 4) AS n_files
      FROM events GROUP BY d),
    m AS (SELECT AVG(n_rows) AS mean_rows FROM per_day)
    SELECT d, n_rows, n_files,
           ROUND(n_rows / n_files, 4) AS rows_per_file,
           (n_rows / n_files) < 100 AS small_files,
           n_rows < 0.9 * mean_rows AS undersized_day
    FROM per_day, m ORDER BY d
    """,
    tags=("ops", "layout", "diagnostics", "metadata"),
    tables=("events",),
)
def ops2_partition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition/file-size audit — the pre-compaction decision (s11's
    operator) as a query, read from FILE METADATA rather than a catalog.

    A day/shard-partitioned layout is written (shard = event_id % 4,
    repartitioned on the partition keys so each (day, shard) combo is
    exactly one file — which is what makes file counts SQL-predictable and
    the audit oracle-checkable). The audit then reads the layout back with
    the ``_metadata.file_path`` hidden column and reports, per day: row
    count, file count, rows-per-file, a small-files flag (the s11
    compaction trigger), and an undersized-day flag (days below 90% of the
    mean — ingestion-gap detection).

    Scale posture: the audit shuffles only (day, file_path) pairs — one
    partial+final agg; file paths come from the reader's split metadata, no
    data-column bytes are read beyond the pruned (d, file_path) projection.
    At lake scale this is the query you run BEFORE s11 compaction or s14
    partition rewrites, the same way ops1 runs before a skewed join."""
    from ..io import scratch_dir

    ev = (
        spark.table("events")
        .select("event_id", "ts")
        .withColumn("d", F.to_date("ts").cast("string"))
        .withColumn("shard", (F.col("event_id") % 4).cast("int"))
        # project before the exchange+write (guide §2.3): the audit reads
        # back only row counts and file paths, so the payload columns the
        # partition keys were derived from never need to hit the layout —
        # event_id stays as the data column, ts/value are dropped (~2/3 of
        # the written bytes; A/B min 2.65 → 2.37 s at sf0.1, output
        # identical — n_rows/n_files count rows and files, not bytes)
        .select("event_id", "d", "shard")
    )
    base = scratch_dir(spark, "ops2")
    # one task per (d, shard) combo => exactly one file per combo
    ev.repartition("d", "shard").write.partitionBy("d", "shard").mode(
        "overwrite"
    ).parquet(base)

    back = spark.read.parquet(base).select(
        F.col("d").cast("string").alias("d"),
        F.col("_metadata.file_path").alias("file_path"),
    )
    per_day = back.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("file_path").alias("n_files"),
    )
    mean = per_day.agg(F.avg("n_rows").alias("mean_rows"))
    return (
        per_day.crossJoin(F.broadcast(mean))
        .select(
            "d",
            "n_rows",
            "n_files",
            F.round(F.col("n_rows") / F.col("n_files"), 4).alias("rows_per_file"),
            (F.col("n_rows") / F.col("n_files") < 100).alias("small_files"),
            (F.col("n_rows") < 0.9 * F.col("mean_rows")).alias("undersized_day"),
        )
        .orderBy("d")
    )


@register(
    "olap8_retention_cohorts",
    oracle="""
    WITH firstday AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_d
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT CAST(f.cohort_d AS VARCHAR) AS cohort_d,
           date_diff('day', f.cohort_d, a.d) AS day_offset,
           COUNT(*) AS n_active
    FROM activity a JOIN firstday f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("olap", "retention", "cohort"),
    tables=("events",),
)
def olap8_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle — the other product-analytics staple next
    to olap6's funnel: users cohorted by first-seen day, counted active per
    (cohort, day-offset). Row (c, 0) is cohort size; n_active/cohort-size
    by offset is the retention curve a dashboard draws.

    Scale posture: ONE events scan and ONE user-keyed exchange — cohort day
    and the distinct-day set aggregate together (min + collect_set, both
    map-side combinable), then offsets explode from the bounded per-user
    day set (≤ calendar days per user, so array width is capped by the
    observation window, not event volume). The naive
    first-day ⋈ (user, day)-distinct join shape was inspected and rejected:
    two scans, three exchanges, and a per-user build side that only
    broadcasts at toy scale. The result is tiny (days × offsets)."""
    ev = spark.table("events")
    per_user = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("cohort_d"), F.collect_set("d").alias("days"))
    )
    return (
        per_user.select("cohort_d", F.explode("days").alias("d"))
        .groupBy(
            F.col("cohort_d").cast("string").alias("cohort_d"),
            F.datediff("d", "cohort_d").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_d", "day_offset")
    )


@register(
    "ops3_data_quality_checks",
    oracle="""
    WITH checks AS (
      SELECT 'events_null_user' AS check_name,
             (SELECT COUNT(*) FROM events WHERE user_id IS NULL) AS n_violations
      UNION ALL
      SELECT 'events_dup_event_id',
             (SELECT COUNT(*) FROM
               (SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1))
      UNION ALL
      SELECT 'events_value_negative',
             (SELECT COUNT(*) FROM events WHERE value < 0)
      UNION ALL
      SELECT 'events_ts_out_of_window',
             (SELECT COUNT(*) FROM events
              WHERE ts < TIMESTAMP '2000-01-01' OR ts >= TIMESTAMP '2100-01-01')
      UNION ALL
      SELECT 'orders_orphan_custkey',
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'lineitem_orphan_orderkey',
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
    )
    SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM checks ORDER BY check_name
    """,
    tags=("ops", "data-quality", "diagnostics"),
    tables=("events", "orders", "customer", "lineitem"),
)
def ops3_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate — the dbt-test / expectations suite as ONE query:
    null keys, duplicate primary keys, range violations, event-time
    plausibility, and referential integrity (orders→customer,
    lineitem→orders FKs via anti-joins), one row per check with a pass
    flag. The report a pipeline blocks its publish step on; the reference
    drops bad rows silently (dropna) — a lake also has to MEASURE them.

    Scale posture: every check is a partial/final aggregate or a left-anti
    join on the FK key (only keys shuffle; AQE handles dim-side broadcast
    or skew); the six checks union into a 6-row frame, so the gate costs
    roughly one scan per fact table regardless of result. Checks are data-
    driven rows, not asserts — the SAME query serves alerting thresholds
    ('fail publish if n_violations > 0.001 * n_rows')."""
    ev = spark.table("events")
    orders = spark.table("orders")
    cust = spark.table("customer")
    li = spark.table("lineitem")

    def one(name: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
        )

    checks = [
        one("events_null_user", ev.filter(F.col("user_id").isNull()).agg(F.count(F.lit(1)).alias("n"))),
        one(
            "events_dup_event_id",
            ev.groupBy("event_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count(F.lit(1)).alias("n")),
        ),
        one("events_value_negative", ev.filter(F.col("value") < 0).agg(F.count(F.lit(1)).alias("n"))),
        one(
            "events_ts_out_of_window",
            ev.filter(
                (F.col("ts") < F.lit("2000-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2100-01-01").cast("timestamp"))
            ).agg(F.count(F.lit(1)).alias("n")),
        ),
        one(
            "orders_orphan_custkey",
            orders.join(
                cust, orders.o_custkey == cust.c_custkey, "left_anti"
            ).agg(F.count(F.lit(1)).alias("n")),
        ),
        one(
            "lineitem_orphan_orderkey",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("n")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "check_name", "n_violations", (F.col("n_violations") == 0).alias("passed")
    ).orderBy("check_name")


@register(
    "olap9_pareto_abc",
    oracle="""
    WITH g AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev_dec,
             SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum_dec,
             SUM(rev_dec) OVER () AS tot_dec
      FROM g
    ), classed AS (
      SELECT CASE WHEN cum_dec <= CAST(0.80 AS DECIMAL(3,2)) * tot_dec THEN 'A'
                  WHEN cum_dec <= CAST(0.95 AS DECIMAL(3,2)) * tot_dec THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_dec
      FROM ranked
    )
    SELECT abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(rev_dec) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(rev_dec) AS DOUBLE)
                 / (SELECT CAST(SUM(rev_dec) AS DOUBLE) FROM g), 6) AS rev_share
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    tags=("olap", "pareto", "abc"),
    tables=("lineitem",),
)
def olap9_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification — the inventory-analytics staple: parts
    ranked by revenue, classified A (first 80% of cumulative revenue),
    B (to 95%), C (tail), reported as class-level counts and shares. The
    cumulative boundary is decimal-exact on both engines: the 0.80/0.95
    multipliers are DECIMAL(3,2) literals, so decimal × decimal stays exact
    (a double multiply would flap the A/B boundary for parts whose
    cumulative revenue sits within double-rounding distance of 80%/95%).

    Scale posture: the per-part rollup is a partial/final agg; the
    cumulative ranking runs as a TWO-PHASE DISTRIBUTED PREFIX-SUM — no
    unpartitioned window anywhere: split the catalog into revenue-range
    buckets, per-bucket ordered cumsums in parallel (window partitioned by
    bucket), then add each bucket's prefix offset from a bucket-totals
    ledger that is only num-buckets rows (``two_phase_prefix_sums``, one
    descending running sum with its grand total on the same ledger). A
    billion-part catalog costs one hash exchange on the bucket plus a
    broadcast of ~hundreds of ledger rows. Plan-guarded: every Window in this plan carries a partition spec
    (tests/test_plans.py).

    Determinism: the bucket is DERIVED FROM THE DATA, never from physical
    placement. An earlier cut keyed the ledger join on
    F.spark_partition_id() after repartitionByRange — Spark documents that
    id as nondeterministic, and `local` feeds two plan branches, so a
    recomputed exchange (reuse disabled, task retry re-sampling the range
    bounds, future AQE behavior) could assign different pids to the two
    evaluations and silently mis-align offsets. Instead the range bounds
    are computed ONCE (the explicit form of RangePartitioner's driver-side
    bounds sampling — one 1-row action over the already-reduced catalog)
    and embedded as literals; every branch then assigns buckets by VALUE
    against the same constants, so misalignment is impossible by
    construction. The bounds need not even be balanced for correctness —
    only for parallelism — because all rows with equal revenue land in one
    bucket and the per-bucket window breaks ties by part key."""
    from ..operators.prefixsum import two_phase_prefix_sums

    n_buckets = 8
    g = (
        spark.table("lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("rev_dec"))
    )
    # The bounds action below and the main DAG both consume g; persisting
    # the REDUCED catalog (parts-sized, not lineitem-sized) makes the fact
    # scan + rollup run once instead of twice — measured 2.2 s → ~1.3 s at
    # sf0.1 (round-10; the r7→r8 1.4→2.0 s drift was this second pass).
    # CacheManager dedups by canonical plan, so repeated calls don't stack
    # copies; MEMORY_AND_DISK because a billion-part catalog may spill.
    # Lifetime: the returned plan still reads g, so we can't unpersist here
    # — track_cache records it with what the run leaves behind (io), and the
    # next QuerySpec.run or the harness's release_caches() unpersists it.
    from pyspark import StorageLevel

    from .registry import track_cache

    g = track_cache(g.persist(StorageLevel.MEMORY_AND_DISK))
    # Phases 0-2 (literal range cuts -> per-bucket cumsums -> broadcast
    # offset ledger) live in operators/prefixsum.two_phase_prefix_sums —
    # pipe11 shares the identical machinery and both carry the same plan
    # guards. Decimal sums stay decimal through the operator (only the CUTS
    # are double), so the A/B boundary stays exact.
    ranked = two_phase_prefix_sums(
        g,
        key="rev_dec",
        values={"cum_dec": "rev_dec"},
        descending=True,
        tiebreak=("l_partkey",),
        n_buckets=n_buckets,
        totals={"tot_dec": "rev_dec"},
    ).select("rev_dec", "cum_dec", "tot_dec")
    dec80 = F.lit("0.80").cast("decimal(3,2)")
    dec95 = F.lit("0.95").cast("decimal(3,2)")
    classed = ranked.select(
        F.when(F.col("cum_dec") <= F.col("tot_dec") * dec80, "A")
        .when(F.col("cum_dec") <= F.col("tot_dec") * dec95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_dec",
    )
    tot = g.agg(F.sum("rev_dec").cast("double").alias("grand"))
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_dec").cast("double").alias("revenue"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "n_parts",
            "revenue",
            F.round(F.col("revenue") / F.col("grand"), 6).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "olap10_scd2_asof_snapshot",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE user_id < 100
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM seq
    ), grouped AS (
      SELECT user_id, run_id, event_type AS attr, MIN(ts) AS valid_from
      FROM runs GROUP BY 1, 2, 3
    ), intervals AS (
      SELECT user_id, attr, valid_from,
             COALESCE(LEAD(valid_from) OVER w2,
                      TIMESTAMP '9999-12-31 00:00:00') AS valid_to
      FROM grouped
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, run_id)
    )
    SELECT attr,
           COUNT(*) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum
    FROM intervals
    WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
      AND valid_to > TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY attr ORDER BY attr
    """,
    tags=("olap", "scd2", "asof", "warehouse"),
    tables=("events",),
)
def olap10_scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) query over the SCD2 history olap7 builds: which
    attribute was each user in at T, summarized per attribute — the
    'reconstruct the world as of' query that is the REASON warehouses build
    validity intervals at all. One interval matches per user (intervals
    partition each user's timeline), so the snapshot is a filter, never a
    window over history.

    Scale posture: identical build shape to olap7 (all windows partitioned
    by user_id, runs collapse partial-aggregable); the AS-OF filter is a
    pair of range predicates on interval bounds — on a materialized
    interval table this is a pushed scan predicate, and at 100 TB the
    interval table is what you'd persist (s14's partition-upsert maintains
    it) so snapshots never re-derive runs."""
    from pyspark.sql.window import Window

    ev = (
        spark.table("events")
        .filter(F.col("user_id") < 100)
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    runs = seq.withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    grouped = runs.groupBy("user_id", "run_id", F.col("event_type").alias("attr")).agg(
        F.min("ts").alias("valid_from")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    t = F.lit("2024-01-20 00:00:00").cast("timestamp")
    intervals = grouped.withColumn(
        "valid_to",
        F.coalesce(
            F.lead("valid_from").over(w2),
            F.lit("9999-12-31 00:00:00").cast("timestamp"),
        ),
    )
    return (
        intervals.filter((F.col("valid_from") <= t) & (F.col("valid_to") > t))
        .groupBy("attr")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.sum("user_id").cast("bigint").alias("user_id_sum"),
        )
        .orderBy("attr")
    )


@register(
    "olap11_window_funnel",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    qc AS (
      SELECT DISTINCT c.user_id, c.ts FROM c
      WHERE EXISTS (SELECT 1 FROM v
                    WHERE v.user_id = c.user_id
                      AND v.ts < c.ts
                      AND c.ts <= v.ts + INTERVAL 4 HOUR)
    ), l1 AS (SELECT DISTINCT user_id FROM v),
    l2 AS (SELECT DISTINCT user_id FROM qc),
    l3 AS (
      SELECT DISTINCT qc.user_id FROM qc
      WHERE EXISTS (SELECT 1 FROM p
                    WHERE p.user_id = qc.user_id
                      AND p.ts > qc.ts
                      AND p.ts <= qc.ts + INTERVAL 4 HOUR)
    )
    SELECT (SELECT COUNT(*) FROM l1) AS n_level1,
           (SELECT COUNT(*) FROM l2) AS n_level2,
           (SELECT COUNT(*) FROM l3) AS n_level3,
           ROUND((SELECT COUNT(*) FROM l2) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM l1), 0), 6) AS conv_1_2,
           ROUND((SELECT COUNT(*) FROM l3) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM l2), 0), 6) AS conv_2_3
    """,
    tags=("olap", "funnel", "sequence"),
    tables=("events",),
)
def olap11_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel (ordered sequence match with a per-step
    timeout), the strict upgrade of olap6's first-occurrence funnel: a user
    reaches level 2 if ANY view→click chain has 0 < gap ≤ 4h, and level 3
    if any such click is followed by a purchase within 4h — chains olap6
    misses when the FIRST view dies but a later one converts.

    Exists-semantics keeps every step a SEMI join (no chain enumeration,
    no pair materialization): qualified clicks = clicks with a view in
    (ts−4h, ts), semi-joined again against purchases. Both joins are
    equi on user_id with a band predicate — the shuffle key is user_id,
    per-user work is bounded by per-user event counts (the ops1 skew
    profile is the watchdog for pathological users; a per-user event cap
    or salting is the dial if one user holds millions of events).
    """
    e = spark.table("events")
    v = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    four_h = F.expr("INTERVAL 4 HOURS")
    qc = c.alias("c").join(
        v.alias("v"),
        (F.col("v.user_id") == F.col("c.user_id"))
        & (F.col("v.ts") < F.col("c.ts"))
        & (F.col("c.ts") <= F.col("v.ts") + four_h),
        "left_semi",
    )
    l3 = qc.alias("qc").join(
        p.alias("p"),
        (F.col("p.user_id") == F.col("qc.user_id"))
        & (F.col("p.ts") > F.col("qc.ts"))
        & (F.col("p.ts") <= F.col("qc.ts") + four_h),
        "left_semi",
    )
    n1 = v.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_level1"))
    n2 = qc.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_level2"))
    n3 = l3.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_level3"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            "n_level1",
            "n_level2",
            "n_level3",
            F.round(F.col("n_level2") / F.nullif(F.col("n_level1"), F.lit(0)), 6).alias(
                "conv_1_2"
            ),
            F.round(F.col("n_level3") / F.nullif(F.col("n_level2"), F.lit(0)), 6).alias(
                "conv_2_3"
            ),
        )
    )


@register(
    "olap12_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,6))) AS total
      FROM events WHERE ts < TIMESTAMP '2024-01-11' GROUP BY user_id
    ), v2 AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,6))) AS total
      FROM events WHERE ts >= TIMESTAMP '2024-01-04' GROUP BY user_id
    ), d AS (
      SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
             CASE WHEN v1.user_id IS NULL THEN 'added'
                  WHEN v2.user_id IS NULL THEN 'removed'
                  WHEN v1.total = v2.total THEN 'unchanged'
                  ELSE 'changed' END AS change_class,
             ABS(COALESCE(v2.total, 0) - COALESCE(v1.total, 0)) AS delta
      FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
    )
    SELECT change_class,
           COUNT(*) AS n_keys,
           CAST(SUM(delta) AS DOUBLE) AS total_abs_delta,
           CAST(MIN(user_id) AS BIGINT) AS min_key,
           CAST(SUM(user_id) AS BIGINT) AS key_sum
    FROM d GROUP BY change_class ORDER BY change_class
    """,
    tags=("olap", "diff", "cdc"),
    tables=("events",),
)
def olap12_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot table diff — the CDC/data-ops audit that
    validates an incremental pipeline against a rebuild: two keyed
    aggregates (here per-user totals over two overlapping time windows,
    standing in for 'yesterday's table vs today's'), full-outer joined and
    classified added / removed / changed / unchanged, reported as per-class
    key counts and decimal-exact absolute drift.

    Scale posture: each snapshot is a partial/final agg; the diff is ONE
    full-outer shuffle on the key (j8's shape). Equality checks compare
    DECIMAL totals — a double rebuild would misclassify order-dependent
    last-ulp differences as 'changed', which is exactly the false alarm
    this audit exists to never raise. At 100 TB the snapshots are
    persisted tables and the diff is the same single co-partitioned join."""
    e = spark.table("events")

    def snap(pred):
        return (
            e.filter(pred)
            .groupBy("user_id")
            .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("total"))
        )

    v1 = snap(F.col("ts") < F.lit("2024-01-11").cast("timestamp")).alias("v1")
    v2 = snap(F.col("ts") >= F.lit("2024-01-04").cast("timestamp")).alias("v2")
    d = v1.join(v2, F.col("v1.user_id") == F.col("v2.user_id"), "full_outer").select(
        F.coalesce(F.col("v1.user_id"), F.col("v2.user_id")).alias("user_id"),
        F.when(F.col("v1.user_id").isNull(), "added")
        .when(F.col("v2.user_id").isNull(), "removed")
        .when(F.col("v1.total") == F.col("v2.total"), "unchanged")
        .otherwise("changed")
        .alias("change_class"),
        F.abs(
            F.coalesce(F.col("v2.total"), F.lit(0).cast("decimal(18,6)"))
            - F.coalesce(F.col("v1.total"), F.lit(0).cast("decimal(18,6)"))
        ).alias("delta"),
    )
    return (
        d.groupBy("change_class")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("delta").cast("double").alias("total_abs_delta"),
            F.min("user_id").cast("bigint").alias("min_key"),
            F.sum("user_id").cast("bigint").alias("key_sum"),
        )
        .orderBy("change_class")
    )
