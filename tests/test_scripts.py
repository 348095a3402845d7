"""Every global a function in ``scripts/*.py`` reads must be defined, imported
or a builtin — deleting a helper or mode otherwise leaves a NameError that only
shows when someone runs the script.

``scripts/scale_rehearsal.py`` stays one harness: every mode runs end to end
at toy size here (a wrong keyword passed to an engine operator fails now, not
after an hour at 1M rows), and AST rules keep it collapsed — its only input
is the command line, its files live under ``BASE``, streams drain through
``streaming.snapshot.drain`` and all timing goes through ``_time``. The
drain rule holds for ``tests/*.py`` too.

Every harness runs in one session shape: ``session.get_session`` is the only
SparkSession builder in the package, ``bench.py`` and ``scripts/``, the core
count is read only there, and the fixture directory only in ``bench.py``."""

from __future__ import annotations

import ast
import builtins
import importlib.util
import json
import pathlib
import symtable
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS_DIR = REPO / "scripts"
SCRIPTS = sorted(SCRIPTS_DIR.glob("*.py"))
REHEARSAL_PATH = SCRIPTS_DIR / "scale_rehearsal.py"


def _scopes(table: symtable.SymbolTable):
    yield table
    for child in table.get_children():
        yield from _scopes(child)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_globals_resolve(path):
    top = symtable.symtable(path.read_text(), str(path), "exec")
    known = {s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()}
    known |= set(dir(builtins)) | {"__file__"}
    missing = {
        (scope.get_name(), sym.get_name())
        for scope in _scopes(top)
        for sym in scope.get_symbols()
        if sym.is_global() and sym.is_referenced() and sym.get_name() not in known
    }
    assert not missing, f"undefined globals (scope, name): {sorted(missing)}"


def _load_rehearsal():
    spec = importlib.util.spec_from_file_location("scale_rehearsal", REHEARSAL_PATH)
    mod = sys.modules["scale_rehearsal"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # its dataclass needs the sys.modules entry
    return mod


rehearsal = _load_rehearsal()

REHEARSAL_MODES = {
    "1x", "10x", "joins", "text", "mm", "streaming", "100x", "100xlsh", "st11deep",
    "fuzzy", "ivf500k", "sqlsf1", "sim1m", "sim2m", "sim4m", "sim8m", "docs1m", "sim4auto1m",
}
TOY_ROWS = 500
TOY_OPS = {"sqlsf1": ("sql1_",)}  # one query of the family
# modes whose 1M point stages past the near-dup frontier -> their group count
STAGED_RECEIPTS = {"sim1m": "sim4_staged_groups", "sim4auto1m": "n_groups"}


def _numbers(node, path=""):
    if isinstance(node, dict):
        for k, v in node.items():
            yield from _numbers(v, f"{path}/{k}")
    elif isinstance(node, (int, float)):
        yield path, node


@pytest.fixture(scope="module")
def rehearsal_base(tmp_path_factory):
    """One corpus cache for every mode, as in a real run: the toy corpora are
    generated once per (kind, size), not once per mode."""
    return str(tmp_path_factory.mktemp("rehearsal"))


@pytest.mark.parametrize("name", sorted(rehearsal.MODES))
def test_rehearsal_mode_runs_at_toy_size(name, spark, sf_dir, rehearsal_base, monkeypatch, capsys):
    """Each mode at <= TOY_ROWS rows per size tag on its own session (temp
    views and confs stay out of later tests), every op timed once through
    ``_time``'s single-pass path — this checks wiring, not walls."""
    assert set(rehearsal.MODES) == REHEARSAL_MODES
    monkeypatch.setattr(rehearsal, "BASE", rehearsal_base)
    monkeypatch.setattr(rehearsal, "SF01_DIR", sf_dir)
    timed = rehearsal._time
    monkeypatch.setattr(rehearsal, "_time", lambda fn, label, once=False: timed(fn, label, True))
    if name in STAGED_RECEIPTS:  # stage the toy corpus too: the frontier moves below it
        monkeypatch.setattr(rehearsal.sim, "NEARDUP_BUDGET_MB", 0)
    mode = rehearsal.MODES[name]
    sizes = {tag: min(n, TOY_ROWS) for tag, n in mode.sizes.items()}
    rehearsal.rehearse(spark.newSession(), name, sizes, TOY_OPS.get(name, ()))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == name
    if name != "sqlsf1":  # sqlsf1 reports per query, each at sf0.1 and sf1
        assert out["results"].keys() == sizes.keys()
    for tag, res in out["results"].items():
        got = dict(_numbers(res))
        assert got, f"{tag}: no op ran"
        assert all(v >= 0 for v in got.values()), f"{tag}: failed receipts {got}"
        if name in STAGED_RECEIPTS:
            assert res[STAGED_RECEIPTS[name]] > 0, f"{tag}: no staged groups counted"


def _collapse_breaks(tree: ast.AST) -> dict[str, list[int]]:
    """Line numbers of each way back to a per-mode harness: reading the
    environment, importing tempfile, waiting on a stream by hand, or timing
    outside ``_time`` / ``_corpus``."""
    timers = {
        id(n)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name in ("_time", "_corpus")
        for n in ast.walk(fn)
    }
    found: dict[str, list[int]] = {"env": [], "tempfile": [], "await": [], "timer": []}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [(node.module or "").split(".")[0]] + [a.name for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        else:
            continue
        for name in names:
            if name in ("environ", "getenv"):
                found["env"].append(node.lineno)
            elif name == "tempfile":
                found["tempfile"].append(node.lineno)
            elif name == "awaitTermination":
                found["await"].append(node.lineno)
            elif name == "perf_counter" and id(node) not in timers:
                found["timer"].append(node.lineno)
    return found


COLLAPSE_TWINS = {
    "env": "import os\nops = os.environ.get('LSH_OPS', '')\nfrom os import getenv\n",
    "tempfile": "import tempfile\nfrom tempfile import mkdtemp\n",
    "await": "def run(q):\n    if not q.awaitTermination(600):\n        q.stop()\n",
    "timer": (
        "import time\n"
        "def _time(fn):\n    t0 = time.perf_counter()\n"
        "def run_mode(fn):\n    t0 = time.perf_counter()\n"
    ),
}


@pytest.mark.parametrize("rule", sorted(COLLAPSE_TWINS))
def test_rehearsal_stays_collapsed(rule):
    assert not _collapse_breaks(ast.parse(REHEARSAL_PATH.read_text()))[rule]


def test_tests_drain_streams_through_snapshot_drain():
    """Tests wait on a stream only through ``streaming.snapshot.drain``: a
    bare ``awaitTermination()`` can hang the suite, and an unchecked
    ``awaitTermination(n)`` reads a half-drained sink and leaves the stream
    running."""
    found = {
        path.name: lines
        for path in sorted(pathlib.Path(__file__).parent.glob("*.py"))
        if (lines := _collapse_breaks(ast.parse(path.read_text()))["await"])
    }
    assert not found, found


@pytest.mark.parametrize("rule", sorted(COLLAPSE_TWINS))
def test_collapse_rule_flags_its_twin(rule):
    found = _collapse_breaks(ast.parse(COLLAPSE_TWINS[rule]))
    assert found[rule] and not any(v for k, v in found.items() if k != rule), found


# what may appear only in its owner: the builder chain, and each variable name
# as a string (how os.environ.get / os.getenv / os.environ[...] read it)
SESSION_OWNERS = {
    "SparkSession.builder": "trafficanalysisbigdata_spark/session.py",
    "SPARK_GRAFT_CPUS": "trafficanalysisbigdata_spark/session.py",
    "SPARK_GRAFT_SF_DIR": "bench.py",
}


def _session_strays(sources: dict[str, str]) -> list[str]:
    """``path:line name`` of each session builder or variable read outside
    its owner in ``SESSION_OWNERS``."""
    found = []
    for path, src in sources.items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Attribute) and node.attr == "builder":
                owner = getattr(node.value, "id", None) or getattr(node.value, "attr", None)
                name = f"{owner}.builder"
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                name = node.value
            else:
                continue
            if SESSION_OWNERS.get(name, path) != path:
                found.append((path, node.lineno, name))
    return [f"{path}:{line} {name}" for path, line, name in sorted(found)]


def test_harnesses_build_through_get_session():
    """bench.py, the scripts and the engine share ``get_session``'s session
    shape (validated core count, driver heap, runtime confs) instead of
    each building its own."""
    paths = [*(REPO / "trafficanalysisbigdata_spark").rglob("*.py"), REPO / "bench.py", *SCRIPTS]
    sources = {str(p.relative_to(REPO)): p.read_text() for p in paths}
    assert _session_strays(sources) == []


def test_session_guard_flags_its_twin():
    twin = (
        "import os\n"
        "from pyspark.sql import SparkSession\n"
        "CPUS = os.environ.get('SPARK_GRAFT_CPUS', '32')\n"
        "spark = SparkSession.builder.master(f'local[{CPUS}]').getOrCreate()\n"
        "SF = os.getenv('SPARK_GRAFT_SF_DIR')\n"
    )
    assert _session_strays({"scripts/x.py": twin}) == [
        "scripts/x.py:3 SPARK_GRAFT_CPUS",
        "scripts/x.py:4 SparkSession.builder",
        "scripts/x.py:5 SPARK_GRAFT_SF_DIR",
    ]
    assert _session_strays({"bench.py": "import os\nos.environ['SPARK_GRAFT_SF_DIR']\n"}) == []
