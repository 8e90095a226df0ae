"""Every ``etl_tpch_spark`` module is reachable from a production entry
point, and every engine import a script makes names something that
exists.

The seeds are what runs outside the test suite: the registry's query
modules, the ``python -m etl_tpch_spark`` CLI, and whatever
``bench.py``, ``__spark_entry__.py`` and ``perfbench/*.py`` import.
From them the test follows every ``import`` statement (function-level
imports included) by walking the source ASTs; only the registry is
imported (for its module list), and no Spark session starts.

A module that only tests import is a second definition waiting to
drift from the one production runs.  Such a module gets a production
caller, or is deleted together with its tests.

The reachability walk skips a dotted name it cannot find (``from a
import b`` may name a function, not a submodule), so a script that
imports a deleted module would pass it silently; the second test
closes that gap for the entry points and the kept ``tools/`` scripts."""

from __future__ import annotations

import ast
import glob
import os

from etl_tpch_spark.registry import _QUERY_MODULES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_tpch_spark"


def _package_modules() -> dict[str, tuple[str, bool]]:
    """Dotted module name -> (source path, is package)."""
    out = {}
    for path in glob.glob(
        os.path.join(REPO, PKG, "**", "*.py"), recursive=True
    ):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        is_pkg = rel[-1] == "__init__"
        name = ".".join(rel[:-1] if is_pkg else rel)
        out[name] = (path, is_pkg)
    return out


def _imported_names(path: str, module: str = "", is_pkg: bool = False):
    """Every dotted name an import statement in ``path`` may load:
    ``import a.b`` gives ``a.b``; ``from a import b`` gives ``a`` and
    ``a.b`` (``b`` may be a submodule).  Relative imports resolve
    against ``module``."""
    package = module if is_pkg else module.rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                if node.module:
                    base = f"{base}.{node.module}"
            else:
                base = node.module
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _reachable(seeds) -> set[str]:
    modules = _package_modules()
    seen: set[str] = set()
    stack = list(seeds)
    while stack:
        parts = stack.pop().split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in modules and name not in seen:
                seen.add(name)
                path, is_pkg = modules[name]
                stack.extend(_imported_names(path, name, is_pkg))
    return seen


def _entry_files() -> list[str]:
    return [
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
        *glob.glob(os.path.join(REPO, "perfbench", "*.py")),
    ]


def _top_level_names(path: str) -> set[str]:
    """Names a module binds at top level: defs, classes, assignments
    and imports."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            names.update(
                n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)
            )
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
    return names


def _unresolved_imports(path: str, modules) -> list[str]:
    """``etl_tpch_spark`` imports in ``path`` that name no module, or a
    name its module does not define."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bad += [
                a.name for a in node.names
                if a.name.split(".")[0] == PKG and a.name not in modules
            ]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            base = node.module or ""
            if base.split(".")[0] != PKG:
                continue
            if base not in modules:
                bad.append(base)
                continue
            defined = _top_level_names(modules[base][0])
            bad += [
                f"{base}.{a.name}" for a in node.names
                if a.name != "*"
                and a.name not in defined
                and f"{base}.{a.name}" not in modules
            ]
    return bad


def _seeds() -> list[str]:
    seeds = [*_QUERY_MODULES, f"{PKG}.__main__"]
    for path in _entry_files():
        seeds += [
            n for n in _imported_names(path) if n.split(".")[0] == PKG
        ]
    return seeds


def test_every_module_is_reachable():
    orphans = sorted(set(_package_modules()) - _reachable(_seeds()))
    assert not orphans, (
        f"modules no production entry point imports: {orphans}; give "
        "each a caller, or delete it with its tests"
    )


def test_script_imports_name_existing_modules():
    modules = _package_modules()
    scripts = _entry_files() + glob.glob(os.path.join(REPO, "tools", "*.py"))
    bad = {
        os.path.relpath(path, REPO): names
        for path in scripts
        if (names := _unresolved_imports(path, modules))
    }
    assert not bad, f"imports of missing engine modules or names: {bad}"
