"""Core batch-analytics queries (SURVEY.md §2.2/§2.4: A1–A13, P6–P9).

Each entry maps a reference analysis onto the driver fixtures per FIXTURES.md
§2 — ``events.value`` stands in for traffic ``volume``, ``events.ts`` for the
reading time, ``event_type`` for the street/borough grouping key, and
``lineitem`` measures for the wide numeric analyses.

Oracle conventions (see plans/registry.py docstring): decimal-exact sums cast
to double, identical expression shapes for float arithmetic, INT casts where
DuckDB would widen to BIGINT, deterministic tie-breaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import avg_exact, sum_exact
from ..operators import aggregates as agg
from ..operators import filters as flt
from .registry import register

# --- A1/A6/A7: totals by categorical key -----------------------------------


@register(
    "a1_totals_by_event_type",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY total DESC, event_type
    """,
    tags=("agg", "A1"),
    tables=("events",),
)
def a1_totals_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 borough-totals analog (ref TrafficAnalysis.py:218-240)."""
    events = spark.table("events")
    return agg.totals_by_key(events, "event_type", "value", "event_type")


# --- A2/F8: dict-mapped labels then totals ---------------------------------


@register(
    "a2_mapped_label_totals",
    oracle="""
    SELECT CASE l_returnflag WHEN 'N' THEN 'None' WHEN 'R' THEN 'Returned'
                             WHEN 'A' THEN 'Accepted' ELSE 'Unknown' END AS flag_label,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY flag_label ORDER BY total_qty DESC, flag_label
    """,
    tags=("agg", "A2", "F8"),
    tables=("lineitem",),
)
def a2_mapped_label_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 direction-label totals (ref TrafficAnalysis.py:250-254): dict map of
    codes to labels (F8 CASE chain) then groupBy-sum."""
    li = spark.table("lineitem")
    label = (
        F.when(F.col("l_returnflag") == "N", "None")
        .when(F.col("l_returnflag") == "R", "Returned")
        .when(F.col("l_returnflag") == "A", "Accepted")
        .otherwise("Unknown")
        .alias("flag_label")
    )
    return (
        li.groupBy(label)
        .agg(sum_exact("l_quantity", "total_qty"))
        .orderBy(F.desc("total_qty"), "flag_label")
    )


# --- A3: multi-aggregate per key -------------------------------------------


@register(
    "a3_multi_agg_by_type",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS avg_val,
           COUNT(value) AS n
    FROM events GROUP BY event_type
    """,
    tags=("agg", "A3"),
    tables=("events",),
)
def a3_multi_agg_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 street sum+mean (ref TrafficAnalysis.py:271)."""
    return agg.multi_agg_by_key(spark.table("events"), "event_type", "value")


# --- A4: daily totals (time series) ----------------------------------------


@register(
    "a4_daily_totals",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY d ORDER BY d
    """,
    tags=("agg", "A4"),
    tables=("events",),
)
def a4_daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 daily volume series (ref TrafficAnalysis.py:292)."""
    events = spark.table("events")
    return (
        events.groupBy(F.to_date("ts").cast("string").alias("d"))
        .agg(sum_exact("value", "total"))
        .orderBy("d")
    )


# --- A5: hour-of-day totals -------------------------------------------------


@register(
    "a5_hourly_totals",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY hour_of_day ORDER BY hour_of_day
    """,
    tags=("agg", "A5"),
    tables=("events",),
)
def a5_hourly_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 hour-of-day profile (ref TrafficAnalysis.py:336, Dash.py:211)."""
    events = spark.table("events")
    return (
        events.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(sum_exact("value", "total"))
        .orderBy("hour_of_day")
    )


# --- A8: wide groupBy-sum over many measures --------------------------------


@register(
    "a8_wide_groupby_sums",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_l_quantity,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_l_extendedprice,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_l_discount,
           CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS sum_l_tax
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A8"),
    tables=("lineitem",),
)
def a8_wide_groupby_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 wide sum of all measure columns per group (ref proto:203)."""
    li = spark.table("lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        *[sum_exact(m, f"sum_{m}") for m in measures]
    )


# --- A9/A10: describe()-style summary stats ---------------------------------


@register(
    "a9_summary_stats",
    oracle="""
    SELECT COUNT(value) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS mean_val,
           ROUND(stddev_samp(value), 6) AS std_val,
           MIN(value) AS min_val,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           MAX(value) AS max_val
    FROM events
    """,
    tags=("agg", "A9", "A10"),
    tables=("events",),
)
def a9_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 describe() (ref TrafficAnalysis.py:117) — one aggregation pass."""
    return agg.summary_stats(spark.table("events"), "value")


# --- A11: correlation matrix ------------------------------------------------


@register(
    "a11_correlation",
    oracle="""
    SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_l_quantity_l_extendedprice,
           ROUND(corr(l_quantity, l_discount), 6) AS corr_l_quantity_l_discount,
           ROUND(corr(l_extendedprice, l_discount), 6) AS corr_l_extendedprice_l_discount
    FROM lineitem
    """,
    tags=("agg", "A11"),
    tables=("lineitem",),
)
def a11_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 pairwise Pearson matrix (ref TrafficAnalysis.py:132-143)."""
    return agg.correlation_matrix(
        spark.table("lineitem"), ["l_quantity", "l_extendedprice", "l_discount"]
    )


# --- A12: distinct ----------------------------------------------------------


@register(
    "a12_distinct_event_types",
    oracle="SELECT DISTINCT event_type FROM events",
    tags=("agg", "A12"),
    tables=("events",),
)
def a12_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 distinct key values (ref Dash.py:89)."""
    return agg.distinct_values(spark.table("events"), "event_type")


# --- A13: histogram ---------------------------------------------------------


@register(
    "a13_histogram",
    oracle="""
    WITH s AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
    SELECT LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 20.0)) AS INT), 19) AS bin,
           COUNT(*) AS n
    FROM events, s GROUP BY bin ORDER BY bin
    """,
    tags=("agg", "A13"),
    tables=("events",),
)
def a13_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 20-bin histogram over the data range (ref proto:131-135)."""
    return agg.histogram(spark.table("events"), "value", bins=20)


# --- P6: equality filter then aggregate ------------------------------------


@register(
    "p6_purchase_daily",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM events WHERE event_type = 'purchase' GROUP BY d ORDER BY d
    """,
    tags=("filter", "P6"),
    tables=("events",),
)
def p6_purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 equality filter (ref Dash.py:177) feeding the A4 daily series.
    The predicate reaches the parquet scan (PushedFilters)."""
    events = flt.equality_filter(spark.table("events"), "event_type", "purchase")
    return (
        events.groupBy(F.to_date("ts").cast("string").alias("d"))
        .agg(sum_exact("value", "total"), F.count(F.lit(1)).alias("n"))
        .orderBy("d")
    )


# --- P7: latest-partition filter -------------------------------------------


@register(
    "p7_latest_day_hourly",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)
    GROUP BY hour_of_day ORDER BY hour_of_day
    """,
    tags=("filter", "P7"),
    tables=("events",),
)
def p7_latest_day_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 latest-day slice then hourly profile (ref Dash.py:209-211)."""
    latest = flt.latest_partition(spark.table("events"), F.to_date("ts"), alias="d")
    return (
        latest.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(sum_exact("value", "total"))
        .orderBy("hour_of_day")
    )


# --- P8: μ±3σ outlier flags -------------------------------------------------


@register(
    "p8_sigma_outliers",
    oracle=f"""
    WITH s AS (SELECT AVG(value) AS mu, stddev_samp(value) AS sigma FROM events)
    SELECT event_type,
           CAST(SUM(CASE WHEN value > mu + {flt.SIGMA_K:g}*sigma OR value < mu - {flt.SIGMA_K:g}*sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_abnormal,
           COUNT(*) AS n
    FROM events, s GROUP BY event_type ORDER BY event_type
    """,
    tags=("filter", "P8"),
    tables=("events",),
)
def p8_sigma_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 abnormal-traffic flag (ref TrafficAnalysis.py:410-413), aggregated
    per key. Stats row is broadcast back over the scan — two scans, no
    driver round-trip."""
    flagged = flt.sigma_outlier_flag(spark.table("events"), "value")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.sum("is_abnormal").cast("bigint").alias("n_abnormal"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# --- P9: quantile-threshold flags ------------------------------------------


@register(
    "p9_peak_share",
    oracle="""
    WITH s AS (SELECT quantile_cont(value, 0.75) AS thresh FROM events)
    SELECT CAST(CASE WHEN value >= thresh THEN 1 ELSE 0 END AS INT) AS is_peak,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events, s GROUP BY is_peak ORDER BY is_peak
    """,
    tags=("filter", "P9"),
    tables=("events",),
)
def p9_peak_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 peak-hour label (ref TrafficAnalysis.py:385-386): value ≥ P75."""
    flagged = flt.quantile_flag(spark.table("events"), "value", q=0.75)
    return (
        flagged.groupBy("is_peak")
        .agg(F.count(F.lit(1)).alias("n"), sum_exact("value", "total"))
        .orderBy("is_peak")
    )


@register(
    "a14_approx_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "approx", "sketch"),
    tables=("events",),
)
def a14_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type: exact count + HLL++ error-bound audit.

    At 100 TB the exact path is the problem: countDistinct shuffles every
    distinct (type, user) pair before counting, while approx_count_distinct
    merges fixed-size HLL sketches map-side — constant memory per group, one
    skinny exchange, mergeable across partitions/days (the same sketch can
    roll up hourly→daily→monthly without rescanning). rsd=0.01 ⇒ ~1% typical
    error.

    The HLL estimate itself is engine-specific (DuckDB can't reproduce the
    sketch), so the oracle-checked surface is (a) the exact count and (b) the
    approximation CONTRACT: ``hll_within_5pct`` asserts |approx − exact| ≤
    max(1, 5%·exact), which the oracle states as literal TRUE. A red driver
    row here means Spark's sketch broke its own error bound. The raw estimate
    stays auditable in the rows-only companion ``a14b_hll_estimate_audit``."""
    exact = F.countDistinct("user_id").alias("n_exact")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(exact, approx.alias("_n_approx"))
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("_n_approx") - F.col("n_exact"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("n_exact"))
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "a14b_hll_estimate_audit",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS fine_within_3rsd,
           TRUE AS coarse_within_3rsd
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "approx", "sketch"),
    tables=("events",),
)
def a14b_hll_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ error-bound audit at two sketch precisions (rsd 0.01 and 0.05).

    Raw HLL++ estimates are engine-specific (DuckDB cannot reproduce the
    sketch bit-for-bit), so the oracle-checked surface is the approximation
    CONTRACT at each precision: |approx − exact| ≤ max(1, 3·rsd·exact), the
    3-sigma bound the rsd parameter promises. The oracle states both
    verdicts as literal TRUE — a red driver row means a Spark sketch broke
    its own bound at that precision. Two precisions make this a distinct
    audit from a14's single loose 5% contract: it checks the rsd knob
    actually tightens the sketch (wider registers at 0.01, narrower at
    0.05, each honoring its own bound). Raw estimates stay range-asserted
    in tests/test_oracle_parity.py::test_a14_hll_error_bound."""
    exact = F.countDistinct("user_id").alias("n_exact")
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            exact,
            F.approx_count_distinct("user_id", rsd=0.01).alias("_fine"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("_coarse"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("_fine") - F.col("n_exact"))
                <= F.greatest(F.lit(1.0), 3 * 0.01 * F.col("n_exact"))
            ).alias("fine_within_3rsd"),
            (
                F.abs(F.col("_coarse") - F.col("n_exact"))
                <= F.greatest(F.lit(1.0), 3 * 0.05 * F.col("n_exact"))
            ).alias("coarse_within_3rsd"),
        )
        .orderBy("event_type")
    )


@register(
    "a15_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           TRUE AS approx_rank_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "quantiles", "approx"),
    tables=("events",),
)
def a15_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value quantiles: exact percentiles + the approx contract.

    At 100 TB exact ``percentile`` is the problem — it buffers each group's
    values for an exact sort. ``approx_percentile`` (t-digest-style sketch)
    merges map-side in constant memory per group with a RANK-error guarantee
    of 1/accuracy. As with a14, the sketch value itself is engine-specific,
    so the oracle-checked surface is (a) the exact quantiles (DuckDB
    ``quantile_cont`` — same linear interpolation as Spark ``percentile``)
    and (b) the guarantee itself: ``approx_rank_ok`` asserts each approx
    value lies between the exact quantiles at q ± 2/accuracy, which the
    oracle states as literal TRUE. A red row means Spark's sketch broke its
    own rank bound."""
    qs, acc = [0.5, 0.9, 0.99], 1000
    eps = 2.0 / acc
    q_arr = ",".join(str(q) for q in qs)
    events = spark.table("events")
    agg = events.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({q_arr}))").alias("ex"),
        F.expr(f"approx_percentile(value, array({q_arr}), {acc})").alias("ap"),
    )
    # Rank audit pass: each approx value's TRUE rank window [#(<a)/n, #(<=a)/n]
    # must contain its target quantile within ±eps. Checking ranks directly
    # (not a value bracket) avoids interpolated-endpoint artifacts at small n.
    targets = agg.select(
        "event_type", F.posexplode("ap").alias("qi", "a")
    ).withColumn(
        "q", F.element_at(F.array(*[F.lit(q) for q in qs]), F.col("qi") + 1)
    )
    ranks = (
        events.join(F.broadcast(targets), "event_type")
        .groupBy("event_type", "qi", "q", "a")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("a")).cast("long")).alias("n_lt"),
            F.sum((F.col("value") <= F.col("a")).cast("long")).alias("n_le"),
        )
        .select(
            "event_type",
            (
                (F.col("n_lt") / F.col("n") - eps <= F.col("q"))
                & (F.col("q") <= F.col("n_le") / F.col("n") + eps)
            ).alias("ok"),
        )
        .groupBy("event_type")
        .agg(F.min("ok").alias("approx_rank_ok"))
    )
    return (
        agg.join(ranks, "event_type")
        .select(
            "event_type",
            *[
                F.round(F.col("ex")[i], 6).alias(f"p{int(q * 100)}")
                for i, q in enumerate(qs)
            ],
            "approx_rank_ok",
        )
        .orderBy("event_type")
    )


@register(
    "a16_mode_median",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, bucket, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c DESC, bucket) AS rn
      FROM b
    ), md AS (
      SELECT event_type, quantile_disc(value, 0.5) AS median_value
      FROM events GROUP BY event_type
    )
    SELECT m.event_type, m.bucket AS mode_bucket, m.c AS mode_count,
           md.median_value
    FROM m JOIN md USING (event_type)
    WHERE m.rn = 1 ORDER BY m.event_type
    """,
    tags=("agg", "mode", "median"),
    tables=("events",),
)
def a16_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode + exact median per group — the two order
    statistics describe() omits. The mode is derived explicitly (bucket
    counts → row_number with a smallest-bucket tie-break) rather than
    F.mode(), whose tie behavior is engine-arbitrary and would flap the
    oracle; the median is percentile_disc(0.5) — an actual data value, the
    same order statistic DuckDB's quantile_disc picks (ops1 already pins
    this convention at p99).

    Scale posture: bucket counts partial-aggregate map-side, so the mode
    shuffle carries (group, bucket) pairs, not rows; the per-group argmax is
    a partial-aggregable max(struct(c, -bucket)) — no window, no per-group
    sort, deterministic smallest-bucket tie-break via the negated key.
    percentile_disc is the one full-sort-per-group op here — at 100 TB swap
    approx_percentile (t-digest, a15's audited contract) and keep this exact
    form for verification samples."""
    ev = spark.table("events")
    b = ev.groupBy(
        "event_type", F.floor("value").cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    mode = (
        b.groupBy("event_type")
        .agg(
            F.max(
                F.struct(F.col("c"), (-F.col("bucket")).alias("neg_bucket"))
            ).alias("mx")
        )
        .select(
            "event_type",
            (-F.col("mx.neg_bucket")).alias("mode_bucket"),
            F.col("mx.c").alias("mode_count"),
        )
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "median_value"
        )
    )
    return mode.join(med, "event_type").orderBy("event_type")


@register(
    "a17_weighted_median",
    oracle="""
    WITH pp AS (
      SELECT l_returnflag, l_extendedprice AS price,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, price, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM pp
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN cw * 2 >= tw THEN price END) AS DOUBLE)
             AS w_median,
           CAST(MAX(tw) AS DOUBLE) AS total_weight
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "weighted", "quantile"),
    tables=("lineitem",),
)
def a17_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (price weighted by quantity) per return flag —
    the inventory/pricing aggregate a15's t-digest only approximates, and
    one Spark has no built-in for. The lower weighted median: smallest
    price whose cumulative weight reaches half the group total; ``cw*2 >=
    tw`` keeps the comparison in exact decimal (a double half-total could
    flap the crossing row between engines).

    Scale discipline (olap9's): the running weight runs over the catalog
    REDUCED to one row per (flag, price) — a partial/final groupBy first,
    so the cumsum sorts distinct-value rows, not the fact table. r15
    optimization pass: the cumsum is the GROUPED TWO-PHASE PREFIX-SUM
    (operators/prefixsum.two_phase_prefix_sums, the olap9/pipe11/tx17b
    machinery) instead of one window partitioned by flag alone — with a
    handful of return flags, the flag-partitioned window funneled the
    whole reduced catalog through as many tasks as there are FLAGS (the
    single-reducer shape this engine bans elsewhere); now the sort runs
    per (flag, price-range bucket) and the group total rides the ledger
    broadcast (``totals``). Decimal addition is associative, so the
    bucketed cw/tw are bit-identical to the single-window sums
    (oracle-checked); cuts come from a pruned price scan, so phase 0
    never re-evaluates the aggregate."""
    from ..operators.prefixsum import two_phase_prefix_sums

    li = spark.table("lineitem")
    pp = (
        li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("w"))
    )
    c = two_phase_prefix_sums(
        pp,
        key="price",
        values={"cw": "w"},
        group=("l_returnflag",),
        totals={"tw": "w"},
        cuts_from=li.select(F.col("l_extendedprice").alias("price")),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("price")))
            .cast("double")
            .alias("w_median"),
            F.max("tw").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )
