"""As-of (most-recent-prior) join — a custom operator Spark lacks built-in.

For each left row, attach the latest right row whose timestamp is ≤ the left
timestamp (optionally within matching partition keys). Implemented as the
scalable union+window trick, NOT a correlated subquery or a range cross-join:

1. tag both sides and union their (key, ts) streams;
2. one window pass sorted by (key, ts, side) carries the last-seen right
   payload forward (``last(..., ignorenulls=True)``);
3. keep the left rows.

Cost: one shuffle on (key), one sort within partitions — the same price as a
sort-merge join, with no data-dependent blowup. This is the idiomatic
DataFrame expression of pandas ``merge_asof`` and kdb ``aj``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    by: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Attach, to each ``left`` row, the ``value_cols`` of the most recent
    ``right`` row with ``right.right_ts <= left.left_ts``, each as
    ``<col>_asof``.

    Tie contract: a right row at exactly the left timestamp matches; among
    MULTIPLE right rows sharing the same (by, ts), the one with the greatest
    (value_cols) tuple wins, deterministically — without a total order the
    window's last() would pick an arbitrary tied row per run/partitioning."""
    by = by or []
    value_cols = value_cols or [c for c in right.columns if c != right_ts and c not in by]

    lhs = (
        left.withColumn("__ts", F.col(left_ts))
        .withColumn("__side", F.lit(1))
        .withColumn("__rn", F.lit(None).cast("bigint"))
    )
    # deterministic tie order among right rows sharing (key, ts): later rows
    # (by a stable row id over the right's own sort order) win, mirroring
    # "last record seen" semantics; without this, last() picks an arbitrary
    # tied row and results flap between runs/partitionings
    rhs = right.select(
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"{c}_asof") for c in value_cols],
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(*by).orderBy(
                "__ts", *[f"{c}_asof" for c in value_cols]
            )
        ).cast("bigint"),
    )
    for c in lhs.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None))
    for c in rhs.columns:
        if c not in lhs.columns:
            lhs = lhs.withColumn(c, F.lit(None))
    unioned = lhs.unionByName(rhs)

    # Right rows sort before left rows at the same __ts (side 0 < 1), so an
    # exactly-simultaneous right row is visible to the left row; __rn breaks
    # ties among simultaneous right rows deterministically (NULL for left
    # rows sorts first under asc_nulls_first, before any right row — but left
    # rows carry no values, so only the right-right order matters).
    w = (
        Window.partitionBy(*by)
        .orderBy("__ts", "__side", F.asc_nulls_first("__rn"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned
    for c in value_cols:
        filled = filled.withColumn(
            f"{c}_asof", F.last(f"{c}_asof", ignorenulls=True).over(w)
        )
    return filled.filter(F.col("__side") == 1).drop("__ts", "__side", "__rn")
