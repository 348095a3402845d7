"""``io.ensure_artifact``, the fit-once cache behind mlx5–mlx8 and the
persisted IVF indexes: reuse only a complete artifact built for the same
source stamp, rebuild on anything else."""

from __future__ import annotations

import os

import pytest

from trafficanalysisbigdata_spark.io import ensure_artifact, source_stamp

PARTS = ("assignments", "centroids")


class CountingBuild:
    """Writes one data file and a ``_SUCCESS`` marker per part, as a Spark
    writer would, and counts its calls."""

    def __init__(self) -> None:
        self.calls = 0

    def __call__(self, path: str) -> None:
        self.calls += 1
        for part in PARTS:
            os.makedirs(os.path.join(path, part), exist_ok=True)
            with open(os.path.join(path, part, "data"), "w") as f:
                f.write(str(self.calls))
            open(os.path.join(path, part, "_SUCCESS"), "w").close()


@pytest.fixture
def built(tmp_path):
    path, build = str(tmp_path / "index"), CountingBuild()
    assert ensure_artifact(path, "v1", build, PARTS) == path
    assert build.calls == 1
    return path, build


def test_matching_stamp_reuses_without_building(built):
    path, build = built
    ensure_artifact(path, "v1", build, PARTS)
    assert build.calls == 1


def test_changed_stamp_rebuilds(built):
    path, build = built
    ensure_artifact(path, "v2", build, PARTS)
    assert build.calls == 2
    ensure_artifact(path, "v2", build, PARTS)
    assert build.calls == 2
    with open(os.path.join(path, "_STAMP")) as f:
        assert f.read() == "v2"


@pytest.mark.parametrize("marker", ["centroids/_SUCCESS", "assignments/_SUCCESS", "_STAMP"])
def test_missing_marker_rebuilds(built, marker):
    path, build = built
    os.remove(os.path.join(path, marker))
    ensure_artifact(path, "v1", build, PARTS)
    assert build.calls == 2
    ensure_artifact(path, "v1", build, PARTS)
    assert build.calls == 2


def test_torn_rebuild_is_not_served_under_the_old_stamp(built):
    """A rebuild that dies after committing its first part leaves every
    ``_SUCCESS`` marker in place over a mix of old and new parts; the old
    stamp must not survive next to it."""
    path, _ = built

    def torn(p: str) -> None:
        with open(os.path.join(p, "assignments", "data"), "w") as f:
            f.write("new")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError):
        ensure_artifact(path, "v2", torn, PARTS)
    build = CountingBuild()
    ensure_artifact(path, "v1", build, PARTS)
    assert build.calls == 1


def test_single_part_artifact_checks_its_own_marker(tmp_path):
    path, calls = str(tmp_path / "preds"), []

    def build(p: str) -> None:
        calls.append(p)
        os.makedirs(p, exist_ok=True)
        open(os.path.join(p, "_SUCCESS"), "w").close()

    ensure_artifact(path, "v1", build)
    ensure_artifact(path, "v1", build)
    assert len(calls) == 1
    os.remove(os.path.join(path, "_SUCCESS"))
    ensure_artifact(path, "v1", build)
    assert len(calls) == 2


def test_source_stamp_tracks_the_table_file(tmp_path):
    table = tmp_path / "events.parquet"
    table.write_bytes(b"one")
    a = source_stamp(str(tmp_path), "events")
    table.write_bytes(b"three")
    assert source_stamp(str(tmp_path), "events") != a
    assert source_stamp(str(tmp_path), "missing").endswith("|nostat")
