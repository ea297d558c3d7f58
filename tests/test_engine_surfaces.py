"""Every engine module and top-level def has a caller outside tests,
and every package module uses what it imports.

A pure ``ast`` scan (no Spark session). The callers are the non-test
code: the package itself, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``. Three properties:

* every module of the package is imported by one of them, where the
  modules that ``plans/__init__.py`` discovers count as imported;
* every top-level function or class of the package is named by one of
  them outside its own definition: as a name, an attribute or an
  imported name. A word in a string or docstring is not a caller.
  Only the queries registered with the registry's ``@_q`` decorator
  are skipped, because the registry is their caller;
* every name a package module (other than an ``__init__``) imports is
  used in that module or listed in its ``__all__``; so is every name
  that a file of ``tests/``, ``tools/`` or ``perfbench/``, ``bench.py``
  or ``__spark_entry__.py`` imports. An import inside a ``try`` whose handler
  catches ``ImportError`` is an availability probe and counts as used.

A surface that only its own tests call fails here; delete it with its
tests, or give it a real caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "bikes_data_warehouse_etl_spark"

# The only surfaces kept without a non-test caller, each with its reason.
KEEP_MODULES = {
    f"{PKG}.sql_surface": "the reference's T-SQL DW script as Spark SQL; "
    "its test pins it equal to the DataFrame builders",
}
KEEP_DEFS = {
    f"{PKG}.sql_surface.register_ods_views": "exposes the ODS tables to "
    "the DW script",
    f"{PKG}.sql_surface.run_dw_sql": "runs the DW script over those views",
    f"{PKG}.operators.quality.observe_dq": "DQ counts that ride the caller's "
    "write action; the pipeline run record builds on it",
    f"{PKG}.operators.quality.duplicate_keys": "the reference's primary-key "
    "constraint as a check",
    f"{PKG}.operators.quality.null_violations": "the reference's NOT NULL "
    "constraint as a check",
    f"{PKG}.operators.quality.check_report": "the reference's NOT NULL / PK "
    "constraints as one report",
    f"{PKG}.operators.dedup.lsh_dropped_buckets": "the checked recall "
    "precondition of lsh_candidates_fast's oracle equality",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _is_test_file(path: Path) -> bool:
    return path.name.startswith("test_") or path.name == "conftest.py"


def _caller_files() -> list[Path]:
    files = sorted((REPO / PKG).rglob("*.py"))
    for d in ("tools", "perfbench"):
        files += sorted((REPO / d).rglob("*.py"))
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    return [f for f in files if not _is_test_file(f)]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _imported_modules(tree: ast.Module) -> set[str]:
    """Dotted names a file imports (the code uses absolute imports),
    with every parent package, and the ``from X import y`` names as
    ``X.y`` in case ``y`` is a module."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _discovered_plan_modules() -> set[str]:
    """Modules ``plans/__init__.py`` imports by name or by prefix."""
    init = REPO / PKG / "plans" / "__init__.py"
    tree = _parse(init)
    literals = {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    prefixes = {
        n.args[0].value for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "startswith" and n.args
        and isinstance(n.args[0], ast.Constant)
    }
    return {
        f"{PKG}.plans.{p.stem}" for p in init.parent.glob("*.py")
        if p.stem in literals or any(p.stem.startswith(x) for x in prefixes)
    }


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted((REPO / PKG).rglob("*.py"))}


def _names_used(path: Path, tree: ast.Module) -> set[tuple[str, str | None]]:
    """(name, enclosing top-level def) for every name, attribute and
    imported name."""
    mod = _module_name(path)
    used: set[tuple[str, str | None]] = set()
    for top in tree.body:
        owner = f"{mod}.{top.name}" if isinstance(top, _DEFS) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                used.add((node.id, owner))
            elif isinstance(node, ast.Attribute):
                used.add((node.attr, owner))
            elif isinstance(node, ast.alias):
                used.add((node.name.rsplit(".", 1)[-1], owner))
    return used


def _is_registered_query(top: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id == "_q"
        for d in top.decorator_list
    )


def _orphan_modules() -> set[str]:
    imported = _discovered_plan_modules()
    for f in _caller_files():
        imported |= _imported_modules(_parse(f)) - {_module_name(f)}
    return {m for m in _package_modules() if m != PKG and m not in imported}


def _orphan_defs() -> set[str]:
    used: set[tuple[str, str | None]] = set()
    for f in _caller_files():
        used |= _names_used(f, _parse(f))
    orphans = set()
    for mod, path in _package_modules().items():
        for top in _parse(path).body:
            if not isinstance(top, _DEFS) or _is_registered_query(top):
                continue
            qual = f"{mod}.{top.name}"
            if not any(n == top.name and owner != qual for n, owner in used):
                orphans.add(qual)
    return orphans


def _catches_import_error(handler: ast.ExceptHandler) -> bool:
    types = (
        handler.type.elts if isinstance(handler.type, ast.Tuple)
        else [handler.type]
    )
    return any(
        isinstance(t, ast.Name)
        and t.id in ("ImportError", "ModuleNotFoundError")
        for t in types
    )


def _unused_imports(path: Path) -> set[str]:
    """Names ``path`` binds by import but never reads, outside
    ``__all__`` and ``ImportError`` probes."""
    tree = _parse(path)
    probes = {
        id(n)
        for t in ast.walk(tree)
        if isinstance(t, ast.Try) and any(map(_catches_import_error, t.handlers))
        for stmt in t.body
        for n in ast.walk(stmt)
    }
    bound: set[str] = set()
    for node in ast.walk(tree):
        if id(node) in probes:
            continue
        if isinstance(node, ast.Import):
            bound.update(a.asname or a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound.update(a.asname or a.name for a in node.names)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    exported = {
        e.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        for e in ast.walk(node.value)
        if isinstance(e, ast.Constant)
    }
    return bound - used - exported


def test_every_module_has_a_non_test_importer():
    orphans = _orphan_modules()
    assert sorted(orphans - KEEP_MODULES.keys()) == []
    # An allowlist entry that gained a caller no longer needs to be here.
    assert sorted(KEEP_MODULES.keys() - orphans) == []


def test_every_top_level_def_has_a_non_test_caller():
    orphans = _orphan_defs()
    assert sorted(orphans - KEEP_DEFS.keys()) == []
    assert sorted(KEEP_DEFS.keys() - orphans) == []


def test_package_modules_use_what_they_import():
    unused = {
        f"{mod}.{name}"
        for mod, path in _package_modules().items()
        if path.name != "__init__.py"
        for name in _unused_imports(path)
    }
    assert sorted(unused) == []


def test_tests_tools_and_benchmarks_use_what_they_import():
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tests", "tools", "perfbench"):
        files += sorted((REPO / d).rglob("*.py"))
    unused = {
        f"{f.relative_to(REPO)}:{name}" for f in files for name in _unused_imports(f)
    }
    assert sorted(unused) == []
