"""The package carries nothing its entry points leave unused: the CLI,
``scan.py``, the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/``), ``tools/``, ``bench.py`` and the tests.

- Every top-level def and assignment is reached from an entry point.
- Every defaulted parameter is passed by some call, or is a deployment
  setting on ``KEPT_DEFAULTS``.
- Every import is used.

The graphs are name-based: a def is reached when a reached piece of code
mentions its name, and a parameter is passed when a call to any def of
that name passes it. That over-approximates (two defs sharing a name
are reached and passed together), so what these tests report is unused
under any reading."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "catalog_pii_scanner_spark"
ENTRY_MODULES = ("cli.py", "scan.py")
ENTRY_FILES = ("__spark_entry__.py", "bench.py")
ENTRY_DIRS = ("perfbench", "tools", "tests")


def _entry_files() -> list[Path]:
    files = [REPO / f for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        files += sorted((REPO / d).rglob("*.py"))
    return files


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
    for path in _entry_files():
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


#: Never-passed defaulted parameters kept on purpose, by def name.
KEPT_DEFAULTS = {
    # deployment settings: the JDBC driver class of the store's database
    "read_findings_jdbc": {"driver"},
    "merge_findings_jdbc": {"driver"},
    # deployment settings: the installed spaCy model, the schema of the
    # watched directory's files
    "SpacyProvider": {"model"},
    "scan_stream": {"schema"},
    # deployment settings: the catalog, schema and database labels and
    # name patterns an enumerator walks, with its stub and oracle
    "parquet_catalog_columns": {"catalog", "schema"},
    "hms_catalog_columns": {"catalog", "schema"},
    "glue_columns": {"db_patterns", "catalog"},
    "stub_glue_client": {"database"},
    "glue_columns_oracle_sql": {"database", "catalog"},
    "unity_catalog_columns": {"catalog_patterns", "schema_patterns"},
    "stub_information_schema": {"catalog", "schema"},
    "unity_columns_oracle_sql": {"catalog", "schema"},
    "stub_rest_client": {"catalog", "schema"},
    # the Glue API's page token: GlueEnumerator._paged passes it through
    # a function reference, which a name-based graph cannot follow
    "get_databases": {"NextToken"},
    "get_tables": {"NextToken"},
}


def _functions(tree: ast.AST):
    """(callable name, def, is bound method) for every def in ``tree``;
    a class's ``__init__`` is called through the class name."""
    def visit(node, cls):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in ch.decorator_list)
                name = cls if cls and ch.name == "__init__" else ch.name
                yield name, ch, cls is not None and not static
                yield from visit(ch, None)
            elif isinstance(ch, ast.ClassDef):
                yield from visit(ch, ch.name)
            else:
                yield from visit(ch, cls)
    yield from visit(tree, None)


def _defaulted(fn: ast.FunctionDef, method: bool):
    """(name, position in a call or None if keyword-only) per defaulted
    parameter; a bound method's call positions skip ``self``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i - method) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def unpassed_defaults() -> tuple[int, list[str]]:
    """(defaulted parameters in the package, ``path:line def(param)`` for
    each one no call passes). A call passes a parameter when it calls a
    def of that name (bare or as an attribute) and names it, reaches its
    position, or spreads ``*args`` / ``**kwargs``."""
    passed: dict[str, set] = {}
    for path in sorted(PKG.rglob("*.py")) + _entry_files():
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            got = passed.setdefault(name, set())
            got |= {"*" if isinstance(a, ast.Starred) else i
                    for i, a in enumerate(n.args)}
            got |= {"**" if k.arg is None else k.arg for k in n.keywords}
    total, out = 0, []
    for path in sorted(PKG.rglob("*.py")):
        for name, fn, method in _functions(ast.parse(path.read_text())):
            got = passed.get(name, set())
            for param, pos in _defaulted(fn, method):
                total += 1
                if (param in got or "**" in got
                        or (pos is not None and (pos in got or "*" in got))
                        or param in KEPT_DEFAULTS.get(name, ())):
                    continue
                out.append(f"{path.relative_to(REPO)}:{fn.lineno} "
                           f"{name}({param})")
    return total, out


def test_every_default_parameter_is_passed():
    """A default no caller overrides is a constant: write it as one."""
    assert unpassed_defaults()[1] == []


def _unused_imports(path: Path) -> list[str]:
    source = path.read_text()
    lines = source.splitlines()
    out = []

    def visit(scope):
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        for node in _own_nodes(scope):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(node)
            elif (isinstance(node, (ast.Import, ast.ImportFrom))
                  and getattr(node, "module", None) != "__future__"
                  and "noqa: F401" not in lines[node.lineno - 1]):
                out.extend(f"{path.relative_to(REPO)}:{node.lineno} {b}"
                           for b in ((a.asname or a.name).split(".")[0]
                                     for a in node.names)
                           if b != "*" and b not in used)

    visit(ast.parse(source))
    return out


def _own_nodes(scope):
    """The nodes of ``scope``, with each nested def but not its body."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo += ast.iter_child_nodes(node)


def test_no_unused_imports():
    """Every import is used where it is imported; ``__init__.py``
    re-exports and ``# noqa: F401`` lines (imports made for their
    effect) are exempt."""
    files = [p for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"]
    files += [REPO / "__spark_entry__.py"] + sorted(
        (REPO / "tests").rglob("*.py"))
    assert [u for p in files for u in _unused_imports(p)] == []
