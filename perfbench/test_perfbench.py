"""Self-tests of the benchmark itself.

    python -m pytest perfbench/ -q

The fast tests need no Spark. ``test_smoke`` runs every workload at toy size
(sf0.001, 2 pages, 2 ticks) through ``run.py`` twice: untraced, where every
end-to-end metric must be printed with its unit and nothing may fail; and
traced with one output corrupted, where every per-layer metric must be
printed and the checker must count the failure (the negative twin).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pandas as pd
import pytest

import checks
import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the checks import the repository's pandas golden
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

# a query or analysis of each workload whose result the negative twin breaks
CORRUPT = {"roster_sf0.01": "s13_sorted_layout_scan", "traffic_ingest": "borough_totals"}
# what the engine leaves in the temp directory when it is not redirected
TEMP_PREFIXES = ("spark_graft_", "trafficanalysisbigdata_spark_", "s13_", "s14_", "s15_",
                 "s16_", "ops2_", "st7_", "st9_", "st10_", "st11_")


def test_same_seed_gives_identical_inputs(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        rows = datagen.traffic_rows(100, seed)
        datagen.write_traffic(str(tmp_path / name), rows, pages=2, ticks=2)
    a, b, c = (datagen.digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c


def test_checker_rejects_a_wrong_result():
    rows = datagen.traffic_rows(300, seed=3)
    want = checks.expected_analyses(rows)["borough_totals"]
    assert checks.frames_equal("ok", want.sample(frac=1.0, random_state=1), want) == []
    wrong = want.assign(total=want.total + 1.0)
    assert checks.frames_equal("bad", wrong, want)
    assert checks.frames_equal("short", want.iloc[1:], want)
    assert checks.frames_equal("empty", pd.DataFrame(), want)
    # q1 filters event_type (the borough) on "purchase": empty by
    # construction, so its check passes only while the engine returns no rows
    q1 = checks.expected_dashboard(datagen.normalize_rows(rows))["q1_selected_series"]
    assert q1.empty
    assert checks.frames_equal("q1", pd.DataFrame({"d": ["2024-01-01"], "total": [1.0]}), q1)


def _temp_entries() -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith(TEMP_PREFIXES)}


def _git_status() -> str | None:
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, check=True,
                              capture_output=True, text=True).stdout
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return None


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--toy", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench-context ")
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke(workload):
    status, temp = _git_status(), _temp_entries()

    context, result = _run(workload, "--trace", "0")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and context["failed_frac"] == 0
    for m in BENCHMARK["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0

    context, result = _run(workload, "--trace", "1", "--corrupt", CORRUPT[workload])
    assert result["failed"] > 0 and not result["correct"] and context["failed_frac"] > 0
    for m in BENCHMARK["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]

    assert _git_status() == status
    assert _temp_entries() <= temp
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_scratch"))


def test_refuses_to_run_without_the_engine(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for fn in os.listdir(HERE):
        if fn.endswith((".py", ".json")):
            (bench_dir / fn).write_bytes(open(os.path.join(HERE, fn), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCHMARK))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "roster_sf0.01", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert out.stdout == ""
