"""The driver contract's two dicts agree with each other, with the
rows-only list and with the registry modules, no source file grows
past the size the registry and dedup modules were split to, and every
engine name the benchmark calls resolves. No Spark session: seconds."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod
import registry
from tools.check_oracle import ROWS_ONLY_REASON

MAX_LINES = 1200


def test_every_query_is_oracle_checked_or_rows_only():
    oracles, rows_only = set(entrymod.oracle_sql()), set(ROWS_ONLY_REASON)
    assert not oracles & rows_only
    assert set(entrymod.queries()) == oracles | rows_only


def test_every_oracle_names_a_query():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_every_registry_body_is_a_query():
    bodies = set()
    for mod in pkgutil.iter_modules(registry.__path__):
        family = importlib.import_module(f"registry.{mod.name}")
        bodies |= {name[3:] for name, fn in vars(family).items()
                   if name.startswith("_q_")
                   and fn.__module__ == family.__name__}
    assert bodies == set(entrymod.queries())


def test_no_source_file_is_over_the_line_bound():
    files = [ROOT / "__spark_entry__.py",
             *(ROOT / "registry").glob("*.py"),
             *(ROOT / "dotnetvectorsearch_spark").rglob("*.py")]
    too_long = {str(f.relative_to(ROOT)): n for f in files
                if (n := len(f.read_text().splitlines())) > MAX_LINES}
    assert not too_long


def test_every_name_the_benchmark_calls_resolves():
    """perfbench/workloads.py is frozen with the benchmark, so an engine
    name it imports, or reads off an imported engine module
    (``ann_store.X``, ``dedup.X``), must keep resolving: a dropped
    re-export fails here instead of in a benchmark run."""
    tree = ast.parse((ROOT / "perfbench" / "workloads.py").read_text())
    modules, missing = {}, []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and node.module
                and node.module.split(".")[0] == "dotnetvectorsearch_spark"):
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            sub = f"{node.module}.{alias.name}"
            try:
                obj = (getattr(mod, alias.name, None)
                       or importlib.import_module(sub))
            except ImportError:
                missing.append(sub)
                continue
            if inspect.ismodule(obj):
                modules[alias.asname or alias.name] = obj
    reads = {(node.value.id, node.attr) for node in ast.walk(tree)
             if isinstance(node, ast.Attribute)
             and isinstance(node.value, ast.Name)
             and node.value.id in modules}
    missing += [f"{name}.{attr}" for name, attr in sorted(reads)
                if not hasattr(modules[name], attr)]
    assert {"ann_store", "dedup"} <= set(modules) and reads
    assert not missing
