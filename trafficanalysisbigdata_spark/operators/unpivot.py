"""Wide↔long reshape operators (SURVEY.md §2.8 F16/F17/F19/F20, §2.4 A8).

The reference's historical dataset is wide (24 hourly count columns per row,
proto/TrafficAnalysis_Hist.py:348-354) and exercises melt (proto:144-145),
row-wise sums (proto:217), per-row argmax across columns (proto:210), and
MinMax normalization (proto:79-80). All are pure Catalyst expressions here —
unpivot compiles to an Expand node (no shuffle, no UDF), and the row-wise ops
are column arithmetic inside whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec


def unpivot(df: DataFrame, ids: list[str], values: list[str]) -> DataFrame:
    """F20 melt (ref proto:144-145): wide columns → (id, measure, val) long
    rows. Spark's native unpivot = an Expand node emitting len(values) rows
    per input row inside the scan stage — no shuffle."""
    return df.unpivot(ids, values, "measure", "val")


def row_sum(cols: list[str], alias: str) -> Column:
    """F16 horizontal sum (ref proto:217): NULL-as-zero, exact decimal,
    emitted double."""
    total = reduce(
        Column.__add__, [F.coalesce(dec(c), F.lit(0).cast("decimal(18,6)")) for c in cols]
    )
    return total.cast("double").alias(alias)


def row_argmax(cols: list[str], alias: str) -> Column:
    """F17 idxmax(axis=1) (ref proto:210): name of the max column per row.

    First-wins on ties (pandas idxmax semantics) via a strict > comparison
    chain against the running max — deterministic and identical in any SQL
    engine; NULLs lose against any non-NULL (greatest ignores NULLs).
    """
    gmax = F.greatest(*[F.col(c) for c in cols])
    expr = F.lit(None).cast("string")
    # build the WHEN chain back-to-front so the first column wins ties
    for c in reversed(cols):
        expr = F.when(F.col(c) == gmax, F.lit(c)).otherwise(expr)
    return expr.alias(alias)


def minmax_normalize(df: DataFrame, cols: list[str]) -> DataFrame:
    """F19 (ref proto:79-80): per-column (x - min) / (max - min).

    One aggregation computes every min/max; the single stats row is broadcast
    back over the scan — the same two-pass shape as sklearn MinMaxScaler.fit /
    transform, with no driver round-trip.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        rng = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        out = out.withColumn(
            f"{c}_norm",
            F.when(rng == 0, F.lit(0.0)).otherwise((F.col(c) - F.col(f"__min_{c}")) / rng),
        )
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
