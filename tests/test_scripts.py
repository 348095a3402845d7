"""Every global a function in ``scripts/*.py`` reads must be defined, imported
or a builtin — deleting a helper or mode otherwise leaves a NameError that only
shows when someone runs the script."""

from __future__ import annotations

import builtins
import pathlib
import symtable

import pytest

SCRIPTS = sorted((pathlib.Path(__file__).resolve().parents[1] / "scripts").glob("*.py"))


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
