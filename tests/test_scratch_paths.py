"""Where a query's own files live is decided in one place, ``io.scratch_dir``
(and ``io.ARTIFACT_ROOT`` for fit-once artifacts). No module under plans/,
operators/ or streaming/ may pick a path itself: no ``tempfile`` import and no
read of ``spark.sql.warehouse.dir``."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "trafficanalysisbigdata_spark"
MODULES = sorted(
    p for sub in ("plans", "operators", "streaming") for p in (PKG / sub).glob("*.py")
)


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
