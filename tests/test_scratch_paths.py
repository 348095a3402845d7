"""Where a query's own files live is decided in one place, ``io.scratch_dir``
(and ``io.ARTIFACT_ROOT`` for fit-once artifacts). No module under plans/,
operators/ or streaming/ may pick a path itself: no ``tempfile`` import and no
read of ``spark.sql.warehouse.dir``.

One rule decides when a fit-once directory is complete: it exists, because
``io.ensure_artifact`` renames a finished build into place. No engine module
or script writes or checks a ``_STAMP`` or ``_SUCCESS`` marker of its own;
``streaming/upsert.py`` is the exception, as its versioned state directories
are published by Spark's committer, a different contract.

What a query leaves behind has one owner too: every frame a module under
plans/, operators/ or streaming/ persists is handed straight to
``track_cache``, so ``release_caches()`` frees it with the run's scratch
leaves.

Likewise a query's inputs are bound in one place: ``QuerySpec.run`` registers
each declared table as a view, so a query under plans/ reads it with
``spark.table(name)`` and never re-reads it with ``io.load_table`` — unless
it runs on its own ``newSession()``, where those views do not exist."""

from __future__ import annotations

import ast
import inspect
import pathlib

from trafficanalysisbigdata_spark.io import ensure_artifact

PKG = pathlib.Path(__file__).resolve().parents[1] / "trafficanalysisbigdata_spark"
MODULES = sorted(
    p for sub in ("plans", "operators", "streaming") for p in (PKG / sub).glob("*.py")
)
PLANS = sorted((PKG / "plans").glob("*.py"))


def _path_choices(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name.split(".")[0] == "tempfile"]
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "tempfile":
            found.append(node.module)
        elif isinstance(node, ast.Constant) and node.value == "spark.sql.warehouse.dir":
            found.append(node.value)  # a conf key, not a docstring mentioning it
    return found


def test_modules_leave_scratch_paths_to_io():
    assert MODULES
    offenders = {
        str(p.relative_to(PKG)): found
        for p in MODULES
        if (found := _path_choices(ast.parse(p.read_text(), str(p))))
    }
    assert not offenders, f"pick scratch paths with io.scratch_dir: {offenders}"


def test_check_flags_tempfile_and_warehouse_reads():
    src = (
        "import tempfile\n"
        "from tempfile import mkdtemp\n"
        "def f(spark):\n"
        "    return spark.conf.get('spark.sql.warehouse.dir')\n"
    )
    assert len(_path_choices(ast.parse(src))) == 3


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _table_rereads(tree: ast.AST) -> list[str]:
    """Functions calling ``load_table`` without building a ``newSession``."""
    found = []
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            called = {_callee(n) for n in ast.walk(fn) if isinstance(n, ast.Call)}
            if "load_table" in called and "newSession" not in called:
                found.append(fn.name)
    return found


def test_plans_read_declared_tables_through_their_views():
    assert PLANS
    offenders = {
        str(p.relative_to(PKG)): found
        for p in PLANS
        if (found := _table_rereads(ast.parse(p.read_text(), str(p))))
    }
    assert not offenders, f"read declared tables with spark.table: {offenders}"


def test_check_flags_load_table_outside_a_new_session():
    src = (
        "def reread(spark, sf_dir):\n"
        "    return load_table(spark, sf_dir, 'events')\n"
        "def own_session(spark, sf_dir):\n"
        "    s2 = spark.newSession()\n"
        "    return io.load_table(s2, sf_dir, 'orders')\n"
    )
    assert _table_rereads(ast.parse(src)) == ["reread"]


def _untracked_persists(tree: ast.AST) -> list[int]:
    """Lines of ``.persist(`` / ``.cache(`` calls that are not the direct
    argument of a ``track_cache(...)`` call."""
    tracked = {
        id(arg)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and _callee(n) == "track_cache"
        for arg in n.args
    }
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("persist", "cache")
        and id(n) not in tracked
    ]


def test_persisted_frames_are_tracked():
    offenders = {
        str(p.relative_to(PKG)): found
        for p in MODULES
        if (found := _untracked_persists(ast.parse(p.read_text(), str(p))))
    }
    assert not offenders, f"hand persisted frames to track_cache: {offenders}"


def test_check_flags_persists_outside_track_cache():
    src = (
        "a = track_cache(df.persist(StorageLevel.MEMORY_AND_DISK))\n"
        "b = df.persist()\n"
        "c = df.cache()\n"
        "d = track_cache(f(df.cache()))\n"
        "e = registry.track_cache(df.cache())\n"
    )
    assert _untracked_persists(ast.parse(src)) == [2, 3, 4]


MARKER_SOURCES = sorted(
    p
    for p in [*PKG.rglob("*.py"), *(PKG.parent / "scripts").glob("*.py")]
    if p != PKG / "streaming" / "upsert.py"
)


def _completion_markers(tree: ast.AST) -> list[int]:
    """Lines of string constants naming ``_STAMP`` or ``_SUCCESS``,
    docstrings excluded."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
    }
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docs
        and ("_STAMP" in n.value or "_SUCCESS" in n.value)
    )


def test_fit_once_completeness_has_one_rule():
    assert len(MARKER_SOURCES) > len(MODULES)
    offenders = {
        str(p): found
        for p in MARKER_SOURCES
        if (found := _completion_markers(ast.parse(p.read_text(), str(p))))
    }
    assert not offenders, f"publish fit-once output with io.ensure_artifact: {offenders}"
    assert list(inspect.signature(ensure_artifact).parameters) == ["path", "stamp", "build"]


def test_check_flags_hand_written_markers():
    src = (
        'def gen(path):\n'
        '    """Writes ``_SUCCESS`` when done."""\n'
        '    open(f"{path}/_SUCCESS", "w").close()\n'
        'def fresh(path):\n'
        '    return os.path.exists(os.path.join(path, "_STAMP"))\n'
    )
    assert _completion_markers(ast.parse(src)) == [3, 5]
