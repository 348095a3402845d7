"""Facade smoke tests: the reference user's switch-over surface
(api.TrafficAnalytics) over the shared ingest fixture."""

from __future__ import annotations

import json
import os

import pytest

from trafficanalysisbigdata_spark.api import TrafficAnalytics
from tests.test_ingest import ROWS


def _write_pages(pages, rows, first: int = 0) -> None:
    """``rows`` as two-row JSONL page files ``page-NNNNN.json``, numbered
    from ``first``."""
    pages.mkdir(exist_ok=True)
    for i in range(0, len(rows), 2):
        with open(pages / f"page-{first + i // 2:05d}.json", "w") as f:
            for r in rows[i : i + 2]:
                f.write(json.dumps(r) + "\n")


def _write_jsonl(path, rows) -> str:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(path)


@pytest.fixture()
def ta(spark, tmp_path):
    return TrafficAnalytics.from_json(spark, _write_jsonl(tmp_path / "traffic.jsonl", ROWS))


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


ANALYSES = ("borough_totals", "hourly_totals", "abnormal_days")


def _results(ta) -> dict[str, list[tuple]]:
    """The three pass analyses of ``ta``, each as sorted row tuples."""
    return {a: sorted(map(tuple, getattr(ta, a)().collect()), key=repr) for a in ANALYSES}


def test_from_paginated_equals_from_json(spark, tmp_path):
    """Both ingest constructors normalize to identical analysis results."""
    _write_pages(tmp_path / "api_pages", ROWS)
    jsonl = _write_jsonl(tmp_path / "api_all.jsonl", ROWS)

    via_pages = TrafficAnalytics.from_paginated(spark, str(tmp_path / "api_pages"))
    via_json = TrafficAnalytics.from_json(spark, jsonl)
    a = [(r.borough, float(r.total)) for r in via_pages.borough_totals().collect()]
    b = [(r.borough, float(r.total)) for r in via_json.borough_totals().collect()]
    assert a == b and a


def test_from_paginated_fetches_once_per_instance(spark, tmp_path):
    """One instance = one fetch: after a first action that reads one row,
    the API's pages are deleted and replaced. The instance's analyses still
    answer over the rows it fetched, and a fresh ``from_paginated`` answers
    over the new pages."""
    pages = tmp_path / "api_pages"
    _write_pages(pages, ROWS)
    ta = TrafficAnalytics.from_paginated(spark, str(pages))
    assert len(ta.df.limit(1).collect()) == 1  # skips most pages; all are kept
    for f in pages.iterdir():
        f.unlink()
    _write_pages(pages, ROWS[:2], first=100)

    want_old = _results(TrafficAnalytics.from_json(spark, _write_jsonl(tmp_path / "old.jsonl", ROWS)))
    want_new = _results(TrafficAnalytics.from_json(spark, _write_jsonl(tmp_path / "new.jsonl", ROWS[:2])))
    assert want_old != want_new
    assert _results(ta) == want_old
    assert _results(TrafficAnalytics.from_paginated(spark, str(pages))) == want_new


def test_from_paginated_analyses_read_the_fetched_copy(spark, tmp_path):
    """Every analysis of a ``from_paginated`` instance scans the stored copy
    (``Scan ExistingRDD``), never the paginated source. The twin runs the
    same analyses over the source read directly and does plan its
    ``BatchScan``, so the check can fail."""
    from tests.plan_tree import nodes, plan_of
    from trafficanalysisbigdata_spark.sources.traffic import normalize_traffic

    _write_pages(tmp_path / "api_pages", ROWS)
    ta = TrafficAnalytics.from_paginated(spark, str(tmp_path / "api_pages"))
    raw = spark.read.format("paginated_json").load(str(tmp_path / "api_pages"))
    twin = TrafficAnalytics.from_normalized(normalize_traffic(raw))

    def scans(df) -> tuple[int, int]:
        """(stored-copy scans, paginated-source scans) in ``df``'s plan."""
        found = nodes(plan_of(df), "RDDScan", "BatchScan")
        return (sum(n.text.startswith("Scan ExistingRDD") for n in found),
                sum(n.text.startswith("BatchScan paginated_json") for n in found))

    frames = [getattr(ta, a)() for a in ANALYSES] + list(ta.dashboard().values())
    twins = [getattr(twin, a)() for a in ANALYSES] + list(twin.dashboard().values())
    for df, tw in zip(frames, twins):
        got, got_twin = scans(df), scans(tw)
        assert got[0] >= 1 and got[1] == 0, got
        assert got_twin[0] == 0 and got_twin[1] >= 1, got_twin


def test_from_paginated_launches_no_job(spark, tmp_path):
    """Building the instance is lazy: no job runs under its job group. The
    first action does run jobs in that group, so the tracker sees them."""
    _write_pages(tmp_path / "api_pages", ROWS)
    sc = spark.sparkContext
    group = "from-paginated-construction"
    sc.setJobGroup(group, "from_paginated builds lazily")
    try:
        ta = TrafficAnalytics.from_paginated(spark, str(tmp_path / "api_pages"))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        ta.df.count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_fetched_copy_survives_release_caches(spark, tmp_path):
    """The harness order: ingest's first action, ``release_caches()``, then
    the analyses. The copy keeps its blocks, and the analyses answer over
    the fetched rows even with the pages gone."""
    from trafficanalysisbigdata_spark.operators.components import _stored_bytes
    from trafficanalysisbigdata_spark.plans.registry import release_caches

    pages = tmp_path / "api_pages"
    _write_pages(pages, ROWS)
    ta = TrafficAnalytics.from_paginated(spark, str(pages))
    ta.df.count()
    before = _results(ta)
    release_caches()
    for f in pages.iterdir():
        f.unlink()
    assert _stored_bytes(ta.df) > 0
    assert _results(ta) == before


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


def test_ship_package_shares_one_zip_per_source_version(tmp_path, monkeypatch):
    """Two processes shipping the same package source leave one zip in the
    temp dir, named by the source digest, and both ship that file."""
    import tempfile
    import zipfile
    from types import SimpleNamespace

    from trafficanalysisbigdata_spark import session

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    shipped = []
    for pid in (1111, 2222):
        monkeypatch.setattr(session.os, "getpid", lambda pid=pid: pid)
        spark = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
        session._ship_package(spark)
    assert [p.name for p in tmp_path.iterdir()] == [os.path.basename(shipped[0])]
    assert shipped[0] == shipped[1]
    with zipfile.ZipFile(shipped[0]) as z:
        assert "trafficanalysisbigdata_spark/session.py" in z.namelist()
