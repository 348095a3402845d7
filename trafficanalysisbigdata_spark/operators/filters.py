"""Filter / flag operators (SURVEY.md §2.2, P4–P9).

The stat-threshold flags (P8/P9) follow the survey's prescribed shape: compute
the scalar statistics in one aggregation, then broadcast the single stats row
back over the fact scan with a crossJoin — no second full shuffle, and the
fact table is only scanned twice regardless of size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def drop_null_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """P4 (ref TrafficAnalysis.py:76-77): dropna(subset=...)."""
    return df.na.drop(subset=cols)


def equality_filter(df: DataFrame, col: str, value) -> DataFrame:
    """P6 (ref Dash.py:177): simple pushdown-able equality predicate."""
    return df.filter(F.col(col) == F.lit(value))


def latest_partition(df: DataFrame, part_col: Column, alias: str = "part") -> DataFrame:
    """P7 (ref Dash.py:209-210): rows belonging to the max partition value.

    A scalar aggregate broadcast — equivalent to the SQL scalar subquery — so
    the max never round-trips through the driver. With a date/partition column
    this also triggers dynamic partition pruning on a partitioned layout.
    """
    part = part_col.alias(alias)
    latest = df.select(part).agg(F.max(alias).alias("__latest"))
    return (
        df.withColumn(alias, part)
        .crossJoin(F.broadcast(latest))
        .filter(F.col(alias) == F.col("__latest"))
        .drop("__latest")
    )


SIGMA_K = 3.0


def sigma_outlier_flag(df: DataFrame, measure: str) -> DataFrame:
    """P8 (ref TrafficAnalysis.py:410-413): flag rows outside mean ±
    ``SIGMA_K``·stddev.

    Uses stddev_samp to match pandas ``std()`` (sample, ddof=1).
    """
    stats = df.agg(
        F.avg(measure).alias("__mu"), F.stddev_samp(measure).alias("__sigma")
    )
    c = F.col(measure)
    flagged = df.crossJoin(F.broadcast(stats)).withColumn(
        "is_abnormal",
        (
            (c > F.col("__mu") + SIGMA_K * F.col("__sigma"))
            | (c < F.col("__mu") - SIGMA_K * F.col("__sigma"))
        ).cast("int"),
    )
    return flagged.drop("__mu", "__sigma")


def quantile_flag(df: DataFrame, measure: str, q: float = 0.75) -> DataFrame:
    """P9 (ref TrafficAnalysis.py:385-386): flag rows ≥ the q-quantile."""
    stats = df.agg(F.percentile(measure, F.lit(q)).alias("__thresh"))
    flagged = df.crossJoin(F.broadcast(stats)).withColumn(
        "is_peak", (F.col(measure) >= F.col("__thresh")).cast("int")
    )
    return flagged.drop("__thresh")
