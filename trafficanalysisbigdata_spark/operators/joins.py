"""Join operators (SURVEY.md §2.3).

The reference performs zero joins — every analysis is single-table — but the
engine ships Spark's full join surface because the correctness harness is
TPC-H-shaped and because the scalar-stat flag patterns (P7–P9) are themselves
broadcast joins.

Scale posture: dimension tables bounded in principle (region, nation) are
broadcast explicitly; fact-fact joins rely on sort-merge with AQE skew
splitting; non-equi conditions always ride on top of an equi key so the
planner never falls back to a cartesian build.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_dim_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Broadcast-hash inner join against a small dimension: no shuffle of the
    fact side, each task streams its partition against an in-memory hash
    map."""
    return fact.join(F.broadcast(dim), on, "inner")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS: rows of ``left`` with ≥1 match — right side never widens the
    output, so Spark ships only the join keys."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS: rows of ``left`` with no match."""
    return left.join(right, on, "left_anti")


SALTS = 8


def salted_join(skewed: DataFrame, other: DataFrame, key: str) -> DataFrame:
    """Skew-busting inner equi-join: hot keys on the ``skewed`` side are spread
    across ``SALTS`` sub-keys; ``other`` is replicated once per salt so
    every sub-key still finds its matches.

    AQE's skew-join split handles sort-merge skew automatically, but only at
    shuffle-partition granularity and only for joins — this is the manual
    fallback when one key dominates so hard that a single (key, partition)
    cell overflows an executor (the 100 TB "null user_id" / boilerplate-dup
    problem), or when the downstream op is a groupBy on the same key.

    The salt is derived from the row (xxhash64 of all columns), not random —
    plans stay deterministic and re-executable (a task retry reproduces the
    same salt, which rand() would not). Replication multiplies ``other``'s
    shuffle volume by SALTS: use against dimension-ish or pre-aggregated
    right sides, and keep SALTS near the executor-count/hot-key ratio.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(SALTS))
    left = skewed.withColumn("__salt", salt.cast("int"))
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALTS - 1)))
    )
    return left.join(right, [key, "__salt"], "inner").drop("__salt")


def range_join(
    left: DataFrame, right: DataFrame, equi: Column, lo: Column, hi: Column
) -> DataFrame:
    """Inner equi + band predicate join. The equi key keeps this a hash/sort-merge join
    (the band is evaluated as a post-join filter); without an equi key Spark
    would produce a broadcast-nested-loop — unusable at scale."""
    return left.join(right, equi & lo & hi, "inner")
