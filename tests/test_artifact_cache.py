"""``io.ensure_artifact``, the fit-once cache behind mlx5–mlx8, the persisted
IVF indexes and the rehearsal corpora: a build is renamed into a key
directory named by its stamp, so a key that exists is complete; ``path``
links the key of the latest call, and the ``ARTIFACT_KEEP`` most recently
used keys stay."""

from __future__ import annotations

import multiprocessing
import os
import uuid

import pytest

from trafficanalysisbigdata_spark import io, session
from trafficanalysisbigdata_spark.io import ARTIFACT_KEEP, ensure_artifact, source_stamp

from .oracle_harness import compare, duck_connection

PARTS = ("assignments", "centroids")


class CountingBuild:
    """Writes one data file per part and counts its calls."""

    def __init__(self) -> None:
        self.calls = 0

    def __call__(self, path: str) -> None:
        self.calls += 1
        for part in PARTS:
            os.makedirs(os.path.join(path, part), exist_ok=True)
            with open(os.path.join(path, part, "data"), "w") as f:
                f.write(str(self.calls))


def _entries(path: str) -> list[str]:
    return sorted(os.listdir(f"{path}.d"))


def _linked(path: str) -> str:
    return os.path.realpath(path)


@pytest.fixture
def built(tmp_path):
    path, build = str(tmp_path / "index"), CountingBuild()
    key = ensure_artifact(path, "v1", build)
    assert build.calls == 1
    assert os.path.dirname(key) == f"{path}.d" and _linked(path) == key
    return path, build


def test_matching_stamp_reuses_without_building(built):
    path, build = built
    ensure_artifact(path, "v1", build)
    assert build.calls == 1


def test_changed_stamp_rebuilds(built):
    path, build = built
    key = ensure_artifact(path, "v2", build)
    assert build.calls == 2
    assert ensure_artifact(path, "v2", build) == key
    assert build.calls == 2
    with open(os.path.join(path, "centroids", "data")) as f:
        assert f.read() == "2"  # the link serves the v2 build


def test_torn_rebuild_is_not_served_under_the_old_stamp(built):
    """A build that dies after writing part of its output leaves no key and
    no tmp directory; the link keeps the last complete artifact, and the
    next call for the torn stamp builds."""
    path, _ = built
    before, linked = _entries(path), _linked(path)

    def torn(p: str) -> None:
        os.makedirs(os.path.join(p, "assignments"))
        with open(os.path.join(p, "assignments", "data"), "w") as f:
            f.write("new")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError):
        ensure_artifact(path, "v2", torn)
    assert _entries(path) == before and _linked(path) == linked
    build = CountingBuild()
    ensure_artifact(path, "v2", build)
    assert build.calls == 1


def _race_worker(path: str, barrier, out) -> None:
    """Builds ``path`` for stamp ``v1``; the barrier holds each build until
    every worker is inside one, so all of them publish the same key."""

    def build(tmp: str) -> None:
        barrier.wait(120)
        for part in PARTS:
            os.makedirs(os.path.join(tmp, part))
            with open(os.path.join(tmp, part, "data"), "w") as f:
                f.write(str(os.getpid()))

    try:
        out.put(ensure_artifact(path, "v1", build))
    except Exception as e:  # reported by the test, not lost with the worker
        out.put(repr(e))


@pytest.mark.parametrize("workers", [2, 5])  # 5 racing builders outnumber 4 cores
def test_concurrent_builds_of_one_stamp_publish_one_key(tmp_path, workers):
    path = str(tmp_path / "index")
    ctx = multiprocessing.get_context("spawn")
    barrier, out = ctx.Barrier(workers), ctx.Queue()
    procs = [ctx.Process(target=_race_worker, args=(path, barrier, out)) for _ in range(workers)]
    for p in procs:
        p.start()
    got = [out.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    assert set(got) == {got[0]} and _linked(path) == got[0]
    assert _entries(path) == [os.path.basename(got[0])]  # one key, no .tmp-
    pids = set()
    for part in PARTS:
        with open(os.path.join(got[0], part, "data")) as f:
            pids.add(f.read())
    assert len(pids) == 1  # every part from the one build that won


def test_leftover_tmp_of_a_killed_build_is_never_served(tmp_path):
    path = str(tmp_path / "index")
    leftover = os.path.join(f"{path}.d", ".tmp-killed", "centroids")
    os.makedirs(leftover)
    build = CountingBuild()
    key = ensure_artifact(path, "v1", build)
    assert build.calls == 1
    assert ".tmp-" not in key and _linked(path) == key
    assert ensure_artifact(path, "v1", build) == key


def test_edited_package_rebuilds(tmp_path, monkeypatch):
    (tmp_path / "events.parquet").write_bytes(b"rows")
    path, build = str(tmp_path / "model"), CountingBuild()
    ensure_artifact(path, source_stamp(str(tmp_path), "events"), build)
    ensure_artifact(path, source_stamp(str(tmp_path), "events"), build)
    assert build.calls == 1
    monkeypatch.setattr(session, "package_digest", lambda: "edited")
    ensure_artifact(path, source_stamp(str(tmp_path), "events"), build)
    assert build.calls == 2


def test_alternating_stamps_build_each_once(tmp_path):
    path, build = str(tmp_path / "model"), CountingBuild()
    for stamp in ("A", "B", "A", "B"):
        key = ensure_artifact(path, stamp, build)
        assert _linked(path) == key
    assert build.calls == 2
    assert ensure_artifact(path, "B", build) == key


def test_retention_keeps_the_newest_keys_and_the_current_one(tmp_path):
    path, build = str(tmp_path / "model"), CountingBuild()
    for i in range(ARTIFACT_KEEP + 2):
        key = ensure_artifact(path, f"v{i}", build)
    assert len(_entries(path)) == ARTIFACT_KEEP
    assert os.path.basename(key) in _entries(path) and _linked(path) == key


def test_retention_spares_builds_in_flight(tmp_path):
    """A ``.tmp-`` directory may be a concurrent build that has not renamed
    yet: pruning it would make that build fail, as it can in the 5-worker
    race above."""
    path, build = str(tmp_path / "model"), CountingBuild()
    in_flight = os.path.join(f"{path}.d", ".tmp-in-flight")
    os.makedirs(in_flight)
    for i in range(ARTIFACT_KEEP + 2):
        ensure_artifact(path, f"v{i}", build)
    assert os.path.isdir(in_flight)
    assert len(_entries(path)) == ARTIFACT_KEEP + 1


def test_source_stamp_tracks_the_table_file(tmp_path):
    table = tmp_path / "events.parquet"
    table.write_bytes(b"one")
    a = source_stamp(str(tmp_path), "events")
    table.write_bytes(b"three")
    assert source_stamp(str(tmp_path), "events") != a


def test_source_stamp_raises_on_a_missing_table(tmp_path):
    """Every caller has bound the table already, so a missing one is a
    fault to surface, never a stamp to fit under."""
    with pytest.raises(FileNotFoundError):
        source_stamp(str(tmp_path), "events")


def test_mlx5_alternating_scale_factors_fits_each_once(spark, sf_dir, monkeypatch):
    """mlx5 at sf0.001, sf0.01, sf0.001 in one session: each run matches its
    DuckDB oracle, which reads the static link, and the third run reuses
    the first run's fit. The stamps carry a fresh nonce, so the first two
    runs fit whatever earlier runs left in the artifact root."""
    from trafficanalysisbigdata_spark.plans import queries_mlx
    from trafficanalysisbigdata_spark.plans.registry import load_all

    sf_other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    assert os.path.isdir(sf_other), f"no sf0.01 fixtures beside {sf_dir}"
    nonce, fits = uuid.uuid4().hex, []
    fixture_stamp = queries_mlx.source_stamp
    monkeypatch.setattr(queries_mlx, "source_stamp", lambda d, t: f"{fixture_stamp(d, t)}|{nonce}")

    def counting(path, stamp, build, *parts):
        return io.ensure_artifact(path, stamp, lambda p: (fits.append(p), build(p)), *parts)

    monkeypatch.setattr(queries_mlx, "ensure_artifact", counting)
    spec = load_all()["mlx5_confusion_pivot"]
    for sf in (sf_dir, sf_other, sf_dir):
        con = duck_connection(sf)
        problems = compare(spec.name, spec.run(spark, sf), con.execute(spec.oracle).df())
        con.close()
        assert not problems, (sf, problems)
    assert len(fits) == 2
