"""Every top-level def and assignment of the package is reached from an
entry point: the CLI, ``scan.py``, the driver contract
(``__spark_entry__.py``), the benchmark (``perfbench/``), ``tools/``,
``bench.py`` or the tests.

The graph is name-based: a def is reached when a reached piece of code
mentions its name, as a bare name or as an attribute. That over-
approximates (two defs sharing a name are reached together), so a def
this test reports is reached by nothing under any reading."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "catalog_pii_scanner_spark"
ENTRY_MODULES = ("cli.py", "scan.py")
ENTRY_FILES = ("__spark_entry__.py", "bench.py")
ENTRY_DIRS = ("perfbench", "tools", "tests")


def _mentions(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target,
                                                      ast.Name):
        return [stmt.target.id]
    return []


def unreached_defs() -> list[str]:
    """``path:line name`` for each non-dunder top-level def that no entry
    point reaches."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            names = _defined_names(stmt)
            if names and path.name not in ENTRY_MODULES:
                where = f"{path.relative_to(REPO)}:{stmt.lineno}"
                for name in names:
                    defs.setdefault(name, []).append(
                        (where, _mentions(stmt)))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # entry modules and import-time statements run as is
                roots |= _mentions(stmt)
    entry_files = [REPO / f for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        entry_files += sorted((REPO / d).rglob("*.py"))
    for path in entry_files:
        if path != Path(__file__).resolve():  # its own names reach nothing
            roots |= _mentions(ast.parse(path.read_text()))
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, mentions in defs[name]:
            todo += [m for m in mentions if m in defs]
    return sorted(f"{where} {name}"
                  for name, locs in defs.items()
                  if name not in reached
                  and not (name.startswith("__") and name.endswith("__"))
                  for where, _ in locs)


def test_every_def_is_reached():
    assert unreached_defs() == []
