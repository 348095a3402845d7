from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trafficanalysisbigdata_spark.session import get_session

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(params=["one_task", "loop"])
def cc_arm(request, spark, monkeypatch):
    """Pin ``connected_components`` to one arm of its size gate. The
    session's default broadcast bound puts every test graph on the one-task
    arm; -1 forces the loop, as it disables broadcasting. The other arm's
    entry becomes a tripwire, so a test cannot pass on the wrong arm."""
    from trafficanalysisbigdata_spark.operators import components
    from trafficanalysisbigdata_spark.session import prep

    prep(spark)  # the one-task arm's union-find runs in a Python worker
    other = {"one_task": "_propagate_labels", "loop": "_union_find_components"}[request.param]

    def tripwire(*args, **kwargs):
        raise AssertionError(f"connected_components ran {other} on the {request.param} arm")

    monkeypatch.setattr(components, other, tripwire)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "loop":
        spark.conf.set(key, "-1")
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)
