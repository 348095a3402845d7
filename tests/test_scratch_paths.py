"""Where a query's own files live is decided in one place, ``io.scratch_dir``
(and ``io.ARTIFACT_ROOT`` for fit-once artifacts). No module under plans/,
operators/ or streaming/ may pick a path itself: no ``tempfile`` import and no
read of ``spark.sql.warehouse.dir``.

Likewise a query's inputs are bound in one place: ``QuerySpec.run`` registers
each declared table as a view, so a query under plans/ reads it with
``spark.table(name)`` and never re-reads it with ``io.load_table`` — unless
it runs on its own ``newSession()``, where those views do not exist."""

from __future__ import annotations

import ast
import pathlib

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
