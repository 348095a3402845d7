"""Bucketed-write co-location: the S7 scale path's payoff. Writing both join
sides bucketed on the join key must let Spark plan the join with ZERO
Exchange operators — the shuffle happened once at write time and is amortized
over every later join/agg on that key. This is the 100 TB join strategy for
repeatedly-joined fact tables (ref: the engine joins orders⋈customer in
j1/j2/j7 — a lakehouse layout would bucket both on custkey).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_tree import exchanges, nodes, plan_of
from trafficanalysisbigdata_spark.io import load_table, write_partitioned


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_partitioned(
        orders, str(base / "orders_b"), bucket_by=(8, ["o_custkey"]),
        table_name="orders_b",
    )
    write_partitioned(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        str(base / "customer_b"), bucket_by=(8, ["o_custkey"]),
        table_name="customer_b",
    )
    yield "orders_b", "customer_b"
    for t in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    # disable broadcast: at test SF everything broadcasts, which bypasses the
    # bucketed path entirely ("Bucketed: false (disabled by query planner)")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ot, ct = bucketed_tables
        joined = spark.table(ot).join(spark.table(ct), "o_custkey")
        joined.collect()  # the final (AQE) physical plan exists after an action
        plan = plan_of(joined, final=True)
        scans = nodes(plan, "FileSourceScan")
        assert scans and all("Bucketed: true" in s.text for s in scans), plan
        assert not exchanges(plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    ot, ct = bucketed_tables
    bucketed = (
        spark.table(ot)
        .join(spark.table(ct), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    plain = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))
