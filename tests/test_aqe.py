"""Runtime AQE receipts: the plan guards in test_plans.py pin the STATIC
plan; these run real jobs and assert what AQE did at RUNTIME — the
mechanisms the 100 TB posture docs lean on (skew-join split, partition
coalescing) demonstrably activate, with results unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_tree import nodes, plan_of

# Skew thresholds lowered so a test-sized hot key trips the same machinery a
# TB-scale hot key trips in production (shuffle bytes are compressed, so the
# default 256MB thresholds need real data volume); broadcast disabled to
# force the shuffled-join path under test.
_CONF = {
    "spark.sql.shuffle.partitions": "16",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture()
def skew_spark(spark):
    """The SHARED session with skew confs applied and RESTORED afterwards —
    a builder.config(...).getOrCreate() here would silently rewrite the
    runtime conf of the session every other test module uses (observed:
    autoBroadcastJoinThreshold=-1 leaking into test_plans' broadcast
    guards)."""
    saved = {}
    for k, v in _CONF.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_skew_join_split_activates(skew_spark):
    """A 200k-row hot key joined against a dim must be split by
    OptimizeSkewedJoin at runtime — SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead — and produce the same aggregate as the math says.
    This is the documented fallback for every skewed equi-join in the repo
    (ops1 profiles it, j7 salts it, AQE splits it when salting isn't
    wired)."""
    spark = skew_spark
    fact = (
        spark.range(200_000)
        .select(F.lit(0).alias("k"), F.col("id").alias("v"))
        .union(
            spark.range(50_000).select(
                (F.col("id") % 1000 + 1).alias("k"), F.col("id").alias("v")
            )
        )
    )
    dim = spark.range(1001).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    j = fact.join(dim, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").cast("bigint").alias("s")
    )
    [row] = j.collect()
    # every fact row matches exactly one dim row
    assert row.n == 250_000
    # hot rows add w=0 each; cold key k has 50 rows of w=2k
    assert row.s == sum(2 * k * 50 for k in range(1, 1001))

    plan = plan_of(j, final=True)
    assert any("skew=true" in n.text for n in nodes(plan, "SortMergeJoin")), plan
    assert any("skewed" in n.text for n in nodes(plan, "AQEShuffleRead")), plan


def test_aqe_coalesces_small_partitions(skew_spark):
    """The flip side: 16 configured shuffle partitions over a tiny groupBy
    must coalesce at runtime (AQEShuffleRead coalesced) — the mechanism that
    keeps small stages from paying fixed per-task cost at any configured
    partition count."""
    spark = skew_spark
    df = (
        spark.range(10_000)
        .groupBy((F.col("id") % 7).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = df.collect()
    assert len(rows) == 7
    plan = plan_of(df, final=True)
    assert any("coalesced" in n.text for n in nodes(plan, "AQEShuffleRead")), plan
