"""Join queries (SURVEY.md §2.3): the full Spark join surface over the
TPC-H-shaped fixtures — broadcast dim joins, multi-way star joins, semi/anti,
equi+band range joins, and the custom as-of join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec, sum_exact
from ..operators.asof import asof_join
from ..operators.joins import anti_join, broadcast_dim_join, range_join, semi_join
from .registry import register


@register(
    "j1_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg"),
    tables=("lineitem", "orders", "customer", "nation"),
)
def j1_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact joins shuffle on their keys (sort-merge + AQE); the bounded
    nation dimension is broadcast so the last hop never shuffles."""
    li, orders = spark.table("lineitem"), spark.table("orders")
    cust, nation = spark.table("customer"), spark.table("nation")
    revenue = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    enriched = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    enriched = broadcast_dim_join(enriched, nation, enriched.c_nationkey == nation.n_nationkey)
    return (
        enriched.groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "j2_star_region_rollup",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_sales,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
    tags=("join", "agg"),
    tables=("orders", "customer", "nation", "region"),
)
def j2_star_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star rollup; both geography dims broadcast."""
    orders, cust = spark.table("orders"), spark.table("customer")
    nation, region = spark.table("nation"), spark.table("region")
    df = orders.join(cust, orders.o_custkey == cust.c_custkey)
    df = broadcast_dim_join(df, nation, df.c_nationkey == nation.n_nationkey)
    df = broadcast_dim_join(df, region, df.n_regionkey == region.r_regionkey)
    return (
        df.groupBy("r_name", "n_name")
        .agg(
            sum_exact("o_totalprice", "total_sales"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "j3_semi_big_spenders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("join", "semi"),
    tables=("customer", "orders"),
)
def j3_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): only join keys cross the shuffle."""
    cust = spark.table("customer")
    big = spark.table("orders").filter(F.col("o_totalprice") > 300000)
    matched = semi_join(cust, big, cust.c_custkey == big.o_custkey)
    return (
        matched.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "j4_anti_quiet_parts",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 45)
    GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("join", "anti"),
    tables=("part", "lineitem"),
)
def j4_anti_quiet_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): parts never ordered in bulk."""
    part = spark.table("part")
    bulk = spark.table("lineitem").filter(F.col("l_quantity") > 45)
    quiet = anti_join(part, bulk, part.p_partkey == bulk.l_partkey)
    return (
        quiet.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts")).orderBy("p_brand")
    )


@register(
    "j5_range_join_ship_lag",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_fast_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("join", "range"),
    tables=("orders", "lineitem"),
)
def j5_range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+band range join: items shipped within 60 days of their order.
    The equi key keeps the plan sort-merge; the band is a post-join filter."""
    orders, li = spark.table("orders"), spark.table("lineitem")
    joined = range_join(
        li,
        orders,
        li.l_orderkey == orders.o_orderkey,
        li.l_shipdate >= orders.o_orderdate,
        li.l_shipdate <= F.date_add(orders.o_orderdate, 60),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_fast_items"), sum_exact("l_quantity", "total_qty"))
        .orderBy("o_orderpriority")
    )


@register(
    "j6_asof_join_daily_close",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, MAX(ts) AS last_ts
      FROM events GROUP BY user_id, d
    ), last_val AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS d, e.value AS close_value
      FROM events e JOIN daily dd
        ON e.user_id = dd.user_id AND e.ts = dd.last_ts
    )
    SELECT user_id,
           COUNT(*) AS n_days,
           CAST(SUM(CAST(close_value AS DECIMAL(18,6))) AS DOUBLE) AS sum_close
    FROM last_val
    WHERE user_id < 30
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("join", "asof", "window"),
    tables=("events",),
)
def j6_asof_join_daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join exercise: for each (user, day-end) probe timestamp, take the
    most recent event value at-or-before it — i.e. the day's closing value —
    via the union+window as-of operator (operators/asof.py), then aggregate.

    The oracle expresses the same semantics relationally (max-ts per day then
    re-join), which is only equivalent because probe points coincide with
    event times — the general as-of case has no pure-SQL equi form, which is
    exactly why the engine ships the operator.
    """
    ev = spark.table("events").filter(F.col("user_id") < 30)
    probes = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max("ts").alias("probe_ts")
    )
    joined = asof_join(
        probes,
        ev.select("user_id", "ts", "value"),
        left_ts="probe_ts",
        right_ts="ts",
        by=["user_id"],
        value_cols=["value"],
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            sum_exact("value_asof", "sum_close").alias("sum_close"),
        )
        .orderBy("user_id")
    )


@register(
    "j7_salted_skew_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_sales,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("join", "skew", "salt"),
    tables=("orders", "customer"),
)
def j7_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/joins.salted_join): the fact side's key is
    spread over 8 deterministic salts, the customer side replicated per salt,
    so a hot customer key splits across 8 reducers instead of one. The oracle
    is the PLAIN join — salting must be invisible in results; this query is
    the standing proof (and the plan shows the (key, salt) composite shuffle).
    """
    from ..functions.numeric import dec
    from ..operators.joins import salted_join

    orders = spark.table("orders")
    cust = spark.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, key="o_custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.sum(dec(F.col("o_totalprice"))).cast("double").alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "j8_full_outer_daily_activity",
    oracle="""
    WITH od AS (
      SELECT CAST(o_orderdate AS VARCHAR) AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY d
    ), sd AS (
      SELECT CAST(l_shipdate AS VARCHAR) AS d, COUNT(*) AS n_ships
      FROM lineitem GROUP BY d
    )
    SELECT COALESCE(od.d, sd.d) AS d,
           COALESCE(od.n_orders, 0) AS n_orders,
           COALESCE(sd.n_ships, 0) AS n_ships
    FROM od FULL OUTER JOIN sd ON od.d = sd.d
    ORDER BY d
    """,
    tags=("join", "full_outer"),
    tables=("orders", "lineitem"),
)
def j8_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join with coalesced keys: daily order placements vs daily
    shipments. Ship dates trail order dates at the calendar edges, so both
    null sides are genuinely exercised. Each input is pre-aggregated to one
    row per day BEFORE the join — the full-outer shuffle moves day rows, not
    fact rows."""
    od = (
        spark.table("orders")
        .groupBy(F.col("o_orderdate").cast("string").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    sd = (
        spark.table("lineitem")
        .groupBy(F.col("l_shipdate").cast("string").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_ships"))
    )
    j = od.join(sd, "d", "full_outer")
    return j.select(
        "d",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
    ).orderBy("d")


@register(
    "j9_bloom_pruned_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("join", "bloom", "runtime-filter"),
    tables=(),  # reads parquet directly on a conf-cloned session (below)
)
def j9_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — Catalyst's row-level runtime
    filtering: the selective orders side (o_totalprice bar) builds a bloom
    filter DURING planning-injected subquery execution, and the lineitem
    scan applies might_contain(xxhash64(l_orderkey)) BEFORE the shuffle, so
    rows that cannot join never leave the map side. On a 100 TB fact-fact
    join where the dim-side filter keeps 1%, this is the difference between
    shuffling the whole fact table and shuffling 1% of it — the runtime
    analogue of static partition pruning, and it composes with AQE.

    Runs on a conf-CLONED session (spark.newSession(): same SparkContext,
    isolated SQLConf) so the lowered bloom thresholds that force injection
    at fixture scale never leak into other queries' plans. Plan-guarded:
    tests/test_plans.py asserts might_contain on the lineitem side.

    Calibration (BENCH_LOCAL.md): measured on/off at 10x facts on
    local[32], the filter costs MORE than it saves (1.84s vs 1.20s) —
    single-node shuffles run at memory speed, so the win this feature
    exists for (not shipping unjoinable rows across a NETWORK, or into a
    spill) does not manifest locally. The guard proves the mechanism; the
    claim is scoped to where shuffle bytes are expensive."""
    from ..io import load_table
    from ..session import prep

    s2 = spark.newSession()
    prep(s2)
    for key, val in {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # force the fact-fact SMJ shape the filter exists for (at fixture
        # scale AQE would otherwise just broadcast the filtered orders)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        s2.conf.set(key, val)
    orders = load_table(s2, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = load_table(s2, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "j10_fuzzy_customer_match",
    oracle="""
    WITH pairs AS (
      SELECT a.c_custkey AS id1, b.c_custkey AS id2
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= 1
    ), bucketed AS (
      SELECT LENGTH(CAST(id2 - id1 AS VARCHAR)) - 1 AS digit_pos, id1, id2
      FROM pairs
    )
    SELECT digit_pos,
           COUNT(*) AS n_pairs,
           (SELECT COUNT(DISTINCT cid) FROM (
              SELECT id1 AS cid FROM bucketed i WHERE i.digit_pos = o.digit_pos
              UNION SELECT id2 FROM bucketed i2 WHERE i2.digit_pos = o.digit_pos))
             AS n_customers
    FROM bucketed o GROUP BY digit_pos ORDER BY digit_pos
    """,
    tags=("join", "fuzzy", "entity_resolution"),
    tables=("customer",),
)
def j10_fuzzy_customer_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-≤1 entity matching on ``c_name`` via FastSS
    deletion-neighborhood blocking (operators/fuzzy.py) — the fuzzy join the
    reference's pandas pipeline would do with an O(n²) `apply`, re-expressed
    as an equi-join: each name is indexed under its L+1 single-deletion
    keys, candidates come from a hash self-join on the xxhash64 of the key,
    and `levenshtein` verifies only candidates. The oracle cross-joins with
    DuckDB's levenshtein — exhaustive ground truth at test SF, which is
    exactly what the blocked plan must reproduce.

    Zero-padded numeric names make the RESULT structurally checkable too:
    an ED-1 pair differs in exactly one decimal digit, so |id1−id2| is
    d·10^p and the digit position p = len(str(diff))−1 buckets the pairs.

    Scale: keys/row = L+1 (string length, not corpus); bucket sizes are
    true neighborhood sizes (≤10 here — one per substituted digit); verify
    cost is |candidates|. At 100 TB the only added dial is ``max_bucket``
    for degenerate keys (blank/default names shared by millions of rows).
    """
    from ..operators.fuzzy import ed1_pairs

    pairs = ed1_pairs(spark.table("customer"), "c_custkey", "c_name").select(
        (F.length((F.col("id2") - F.col("id1")).cast("string")) - 1).alias("digit_pos"),
        "id1",
        "id2",
    )
    # Each pair contributes exactly two member rows, so one explode feeds
    # BOTH stats in a single pass over the candidate pipeline (a separate
    # union/distinct branch would recompute the whole blocked join twice —
    # measured 4.3 s vs 2.x s at sf0.1).
    members = pairs.select(
        "digit_pos", F.explode(F.array("id1", "id2")).alias("cid")
    )
    return (
        members.groupBy("digit_pos")
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("cid").alias("n_customers"),
        )
        .orderBy("digit_pos")
    )


@register(
    "j11_interval_overlap_join",
    oracle="""
    WITH c AS (
      SELECT event_id,
             date_diff('microseconds', TIMESTAMP '2024-01-01 00:00:00', ts) AS s,
             date_diff('microseconds', TIMESTAMP '2024-01-01 00:00:00', ts)
               + CAST(ROUND(value * 1000000, 0) AS BIGINT) AS e
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id,
             date_diff('microseconds', TIMESTAMP '2024-01-01 00:00:00', ts) AS s,
             date_diff('microseconds', TIMESTAMP '2024-01-01 00:00:00', ts)
               + CAST(ROUND(value * 1000000, 0) AS BIGINT) AS e
      FROM events WHERE event_type = 'purchase'
    )
    SELECT (GREATEST(c.s, p.s) // 86400000000) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(LEAST(c.e, p.e) - GREATEST(c.s, p.s)) AS BIGINT)
             AS total_overlap_us
    FROM c JOIN p ON c.s <= p.e AND p.s <= c.e
    GROUP BY epoch_day ORDER BY epoch_day
    """,
    tags=("join", "interval", "grid"),
    tables=("events",),
)
def j11_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval-overlap join — concurrent-activity detection: every
    (click, purchase) pair whose activity intervals [ts, ts + value seconds]
    overlap in time, reported per day-index (days since the naive 2024-01-01 epoch) of the later start (pair count +
    total overlap microseconds). Unlike j5 (equi key + band filter rides a
    sort-merge join), there is NO equi key here: the naive plan is a
    cartesian nested-loop — the join Spark cannot execute at scale.

    The scale path is GRID BINNING (the spatial-join / Databricks
    range-join-hint technique as plain DataFrame ops): explode each interval
    to the 10-minute cells it spans, hash-join on the cell, and keep a pair
    only in ONE deterministic cell — the cell of the LATER START, which any
    overlapping pair's two intervals both span by construction — so no
    post-join distinct is ever needed. Join work is Σ(occupancy²) per cell,
    bounded by interval span (every fixture's `value` stays under the 600 s
    cell width — sf0.1 max 560.21 s — so an interval spans ≤ 2 cells) and cell
    width, never n²; the pair condition and overlap length are integer
    microsecond arithmetic end-to-end (w11's NAIVE-epoch µs idiom — no
    timezone touches any boundary — plus ROUND(value·1e6), where the
    double-to-int boundary is rounded identically on both engines, and the
    day key is integer `div`, so no timezone or float-rounding flap).
    Plan-guarded: no NestedLoop/Cartesian node survives
    (tests/test_plans.py)."""
    ev = spark.table("events")
    cell_us = 600 * 1_000_000
    day_us = 86_400_000_000

    naive_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )

    def intervals(etype: str, pfx: str) -> DataFrame:
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(f"{pfx}_id"),
            naive_us.alias(f"{pfx}_s"),
            (naive_us + F.round(F.col("value") * 1_000_000, 0).cast("bigint")).alias(
                f"{pfx}_e"
            ),
        )

    def gridded(df: DataFrame, pfx: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.sequence(
                    F.expr(f"{pfx}_s div {cell_us}"),
                    F.expr(f"{pfx}_e div {cell_us}"),
                )
            ).alias("cell"),
        )

    c = gridded(intervals("click", "c"), "c")
    p = gridded(intervals("purchase", "p"), "p")
    pairs = (
        c.join(p, "cell")
        .filter(
            (F.col("c_s") <= F.col("p_e"))
            & (F.col("p_s") <= F.col("c_e"))
            # dedup-free: keep the pair only in the later-start's cell
            & (F.col("cell") == F.expr(f"greatest(c_s, p_s) div {cell_us}"))
        )
    )
    return (
        pairs.groupBy(
            F.expr(f"greatest(c_s, p_s) div {day_us}").alias("epoch_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.least(F.col("c_e"), F.col("p_e"))
                - F.greatest(F.col("c_s"), F.col("p_s"))
            ).cast("bigint").alias("total_overlap_us"),
        )
        .orderBy("epoch_day")
    )
