"""Wide-format queries (SURVEY.md F16/F17/F19/F20 + pivot) on the fixtures.

``lineitem``'s four measure columns stand in for the reference's 24 hourly
count columns (FIXTURES.md §2): unpivot melts them long, row_sum/row_argmax
compute horizontally, pivot rebuilds a wide layout from long events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import sum_exact
from ..operators.aggregates import pivot_totals
from ..operators.unpivot import minmax_normalize, row_argmax, row_sum, unpivot
from .registry import register

MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "f20_unpivot_measures",
    oracle="""
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure,
           CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM long GROUP BY l_returnflag, measure ORDER BY l_returnflag, measure
    """,
    tags=("wide", "F20"),
    tables=("lineitem",),
)
def f20_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 melt (ref proto:144-145): wide measures → long, then the standard
    long-form aggregation. Unpivot is an Expand node — rows multiply inside
    the scan stage, no shuffle until the groupBy."""
    li = spark.table("lineitem")
    long = unpivot(li, ["l_returnflag"], MEASURES)
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(sum_exact("val", "total"), F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag", "measure")
    )


@register(
    "f16_row_sums",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS DECIMAL(18,6)) + CAST(l_extendedprice AS DECIMAL(18,6))
                + CAST(l_discount AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6)) AS DOUBLE)
             AS row_total
    FROM lineitem WHERE l_orderkey % 20 = 0
    """,
    tags=("wide", "F16"),
    tables=("lineitem",),
)
def f16_row_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 horizontal sum across measure columns (ref proto:217)."""
    li = spark.table("lineitem").filter(F.col("l_orderkey") % 20 == 0)
    return li.select("l_orderkey", "l_linenumber", row_sum(MEASURES, "row_total"))


@register(
    "f17_row_argmax",
    oracle="""
    WITH labeled AS (
      SELECT CASE
               WHEN l_quantity = GREATEST(l_quantity, l_extendedprice, l_discount, l_tax) THEN 'l_quantity'
               WHEN l_extendedprice = GREATEST(l_quantity, l_extendedprice, l_discount, l_tax) THEN 'l_extendedprice'
               WHEN l_discount = GREATEST(l_quantity, l_extendedprice, l_discount, l_tax) THEN 'l_discount'
               ELSE 'l_tax' END AS max_measure
      FROM lineitem
    )
    SELECT max_measure, COUNT(*) AS n FROM labeled
    GROUP BY max_measure ORDER BY max_measure
    """,
    tags=("wide", "F17"),
    tables=("lineitem",),
)
def f17_row_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 idxmax(axis=1) (ref proto:210): which measure is largest per row,
    first-wins ties, then the distribution of winners."""
    li = spark.table("lineitem")
    labeled = li.select(row_argmax(MEASURES, "max_measure"))
    return (
        labeled.groupBy("max_measure").agg(F.count(F.lit(1)).alias("n")).orderBy("max_measure")
    )


@register(
    "f19_minmax_normalized_stats",
    oracle="""
    WITH s AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
    SELECT event_type,
           ROUND(SUM((value - lo) / (hi - lo)), 6) AS sum_norm,
           ROUND(MIN((value - lo) / (hi - lo)), 6) AS min_norm,
           ROUND(MAX((value - lo) / (hi - lo)), 6) AS max_norm
    FROM events, s GROUP BY event_type ORDER BY event_type
    """,
    tags=("wide", "F19"),
    tables=("events",),
)
def f19_minmax_normalized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 MinMax normalization (ref proto:79-80) then per-type stats of the
    normalized measure. Sums of normalized doubles are rounded on both sides
    (true floats — decimal casting would change the semantics under test)."""
    ev = minmax_normalize(spark.table("events"), ["value"])
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.sum("value_norm"), 6).alias("sum_norm"),
            F.round(F.min("value_norm"), 6).alias("min_norm"),
            F.round(F.max("value_norm"), 6).alias("max_norm"),
        )
        .orderBy("event_type")
    )


@register(
    "a8b_pivot_type_by_cohort",
    oracle="""
    SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'click'), 0) AS DOUBLE) AS click,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'view'), 0) AS DOUBLE) AS view,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE) AS purchase,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'signup'), 0) AS DOUBLE) AS signup,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'error'), 0) AS DOUBLE) AS error
    FROM events GROUP BY cohort ORDER BY cohort
    """,
    tags=("wide", "A8", "pivot"),
    tables=("events",),
)
def a8b_pivot_type_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long events into the wide per-category layout (inverse of F20).
    Pivot values are explicit — no extra distinct-scan job at any scale."""
    ev = spark.table("events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = pivot_totals(ev, F.col("user_id") % 10, "event_type", types, "value", "cohort")
    return wide.select(
        "cohort", *[F.col(t).cast("double").alias(t) for t in types]
    ).orderBy("cohort")
