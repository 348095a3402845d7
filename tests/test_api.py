"""Facade smoke tests: the reference user's switch-over surface
(api.TrafficAnalytics) over the shared ingest fixture."""

from __future__ import annotations

import json

import pytest

from trafficanalysisbigdata_spark.api import TrafficAnalytics
from tests.test_ingest import ROWS


@pytest.fixture()
def ta(spark, tmp_path):
    p = tmp_path / "traffic.jsonl"
    with open(p, "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    return TrafficAnalytics.from_json(spark, str(p))


def test_borough_totals_order_and_values(ta):
    # surviving rows: Queens 120+33, Manhattan 200, Brooklyn 49, Queens(7) 55
    rows = [(r.borough, float(r.total)) for r in ta.borough_totals().collect()]
    assert rows == [("Queens", 208.0), ("Manhattan", 200.0), ("Brooklyn", 49.0)]


def test_hourly_totals_covers_surviving_hours(ta):
    got = {r.hour: float(r.total) for r in ta.hourly_totals().collect()}
    assert got == {6: 33.0, 7: 55.0, 8: 120.0, 17: 49.0, 23: 200.0}


def test_summary_and_outlier_paths_run(ta):
    stats = ta.volume_summary().collect()
    assert stats  # scalar-stat rows exist
    flagged = ta.abnormal_days().collect()
    assert all(r.is_abnormal in (0, 1) for r in flagged)
    heavy = ta.heavy_hours().collect()
    assert any(r.is_peak == 1 for r in heavy)


def test_dashboard_query_set_matches_contract(ta):
    dash = ta.dashboard()
    assert set(dash) == {
        "q1_selected_series",
        "q2_top5",
        "q3_latest_hourly",
        "q4_type_totals",
        "q6_points",
    }
    totals = {r.event_type: float(r.total) for r in dash["q4_type_totals"].collect()}
    assert totals["Queens"] == 208.0


def test_from_paginated_equals_from_json(spark, tmp_path):
    """Both ingest constructors normalize to identical analysis results."""
    pages = tmp_path / "api_pages"
    pages.mkdir()
    for i in range(0, len(ROWS), 2):
        with open(pages / f"page-{i // 2:05d}.json", "w") as f:
            for r in ROWS[i : i + 2]:
                f.write(json.dumps(r) + "\n")
    jsonl = tmp_path / "api_all.jsonl"
    with open(jsonl, "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")

    via_pages = TrafficAnalytics.from_paginated(spark, str(pages))
    via_json = TrafficAnalytics.from_json(spark, str(jsonl))
    a = [(r.borough, float(r.total)) for r in via_pages.borough_totals().collect()]
    b = [(r.borough, float(r.total)) for r in via_json.borough_totals().collect()]
    assert a == b and a


def test_corpus_pipeline_facade_matches_registry(spark, sf_dir):
    """CorpusPipeline must be a pure delegation surface: facade output ==
    the registered query run the driver's way, for a representative of each
    family (dedup summary, quality rollup, pipeline composite, shard
    manifest), and the similarity path must work from the same object."""
    from trafficanalysisbigdata_spark.corpus import CorpusPipeline
    from trafficanalysisbigdata_spark.plans.registry import load_all

    from pyspark.sql import functions as F

    cp = CorpusPipeline.from_parquet(spark, sf_dir)
    specs = load_all()
    for facade_fn, qname in [
        (cp.exact_dedup, "dd1_exact_dedup"),
        (cp.quality_by_source, "tx2_quality_by_source"),
        (cp.training_mix, "pipe7_temperature_resample"),
        (cp.shard_manifest, "pipe8_shard_manifest"),
        (cp.minhash_calibration, "dd9_minhash_calibration"),
        (cp.frame_dedup, "mm9_frame_dedup"),
        (cp.scene_changes, "mm10_scene_changes"),
        (cp.zipf_profile, "tx12_zipf_slope"),
    ]:
        got = sorted(map(tuple, facade_fn().collect()))
        want = sorted(map(tuple, specs[qname].run(spark, sf_dir).collect()))
        assert got == want, qname

    probes = cp.embeddings.filter(F.col("vec_id") < 3)
    topk = cp.ann_topk(probes, k=3).collect()
    assert len(topk) == 3 * 3
    rer = cp.ann_topk_reranked(probes, k=3).collect()
    assert len(rer) == 3 * 3 and all(r.cos is not None for r in rer)


def test_malformed_cpu_count_env_is_rejected(monkeypatch):
    from trafficanalysisbigdata_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4x")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_parallelism()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


class _RefusingConf:
    """A session conf that refuses to set ``refused`` keys with ``error``."""

    def __init__(self, refused: set[str], error: Exception) -> None:
        self.refused, self.error, self.values = refused, error, {}

    def set(self, key: str, value: str) -> None:
        if key in self.refused:
            raise self.error
        self.values[key] = value

    def get(self, key: str, default=None):
        return self.values.get(key, default)


def _stub_session(refused: set[str], error: Exception):
    from types import SimpleNamespace

    # the package counts as shipped already, so prep only sets confs
    return SimpleNamespace(
        sparkContext=SimpleNamespace(_tabd_pkg_shipped=True),
        conf=_RefusingConf(refused, error),
    )


def _refused() -> Exception:
    from pyspark.errors import AnalysisException

    return AnalysisException("[CANNOT_MODIFY_CONFIG] refused")


def test_prep_warns_on_a_refused_optional_conf():
    from trafficanalysisbigdata_spark.session import RUNTIME_CONFS, prep

    spark = _stub_session({"spark.sql.adaptive.skewJoin.enabled"}, _refused())
    with pytest.warns(UserWarning, match="skewJoin"):
        prep(spark)
    assert set(spark.conf.values) == set(RUNTIME_CONFS) - {"spark.sql.adaptive.skewJoin.enabled"}


def test_prep_raises_when_nanos_as_long_is_refused():
    from trafficanalysisbigdata_spark.session import prep

    spark = _stub_session({"spark.sql.legacy.parquet.nanosAsLong"}, _refused())
    with pytest.raises(RuntimeError, match="nanosAsLong"):
        prep(spark)


def test_prep_propagates_errors_that_are_not_a_refusal():
    from trafficanalysisbigdata_spark.session import prep

    spark = _stub_session({"spark.sql.session.timeZone"}, RuntimeError("connection lost"))
    with pytest.raises(RuntimeError, match="connection lost"):
        prep(spark)
