"""Every ``etl_tpch_spark`` module is reachable from a production entry
point, or is on a short allowlist with a reason.

The seeds are what runs outside the test suite: the registry's query
modules, the ``python -m etl_tpch_spark`` CLI, and whatever
``bench.py``, ``__spark_entry__.py`` and ``perfbench/*.py`` import.
From them the test follows every ``import`` statement (function-level
imports included) by walking the source ASTs; only the registry is
imported (for its module list), and no Spark session starts.

A module that only tests import is a second definition waiting to
drift from the one production runs.  Such a module gets a production
caller, goes on the allowlist with a one-line reason, or is deleted."""

from __future__ import annotations

import ast
import glob
import os

from etl_tpch_spark.registry import _QUERY_MODULES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_tpch_spark"

# library modules that only tests use today; each one gets a
# production caller or is deleted together with its tests
ALLOWLIST = {
    "etl_tpch_spark.operators.topk": (
        "global/per-group top-k helpers; the queries inline their ranking"
    ),
    "etl_tpch_spark.pipeline.bucketed": (
        "bucketed fact tables; no pipeline stage writes bucketed tables"
    ),
    "etl_tpch_spark.pipeline.io": (
        "format-pluggable table I/O; the pipeline reads parquet only"
    ),
    "etl_tpch_spark.pipeline.matview": (
        "incremental materialized views; no stage maintains one yet"
    ),
    "etl_tpch_spark.pipeline.snapshots": (
        "hardlink time travel for parquet; TxTable versions do the job"
    ),
    "etl_tpch_spark.pipeline.upsert": (
        "keyed parquet upsert; only streaming.sink and tests call it"
    ),
    "etl_tpch_spark.sources": "package of sources.synthetic below",
    "etl_tpch_spark.sources.synthetic": (
        "Python DataSource event generator; no stage reads through it"
    ),
    "etl_tpch_spark.streaming.sink": (
        "merge/CDC/txlog foreachBatch sinks; no stage streams into them"
    ),
}


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


def _seeds() -> list[str]:
    seeds = [*_QUERY_MODULES, f"{PKG}.__main__"]
    entry_files = [
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
        *glob.glob(os.path.join(REPO, "perfbench", "*.py")),
    ]
    for path in entry_files:
        seeds += [
            n for n in _imported_names(path) if n.split(".")[0] == PKG
        ]
    return seeds


def test_every_module_is_reachable_or_allowlisted():
    reachable = _reachable(_seeds())
    orphans = sorted(set(_package_modules()) - reachable - set(ALLOWLIST))
    assert not orphans, (
        f"modules no production entry point imports: {orphans}; give "
        "each a caller, delete it, or allowlist it with a reason"
    )


def test_allowlist_names_only_unreachable_modules():
    """An allowlist entry whose module is gone, or has gained a
    production caller, is stale and must be dropped."""
    modules = set(_package_modules())
    reachable = _reachable(_seeds())
    assert all(reason.strip() for reason in ALLOWLIST.values())
    assert sorted(set(ALLOWLIST) - modules) == []
    assert sorted(set(ALLOWLIST) & reachable) == []
