"""The driver contract's two dicts agree with each other, with the
rows-only list and with the registry modules, and no source file grows
past the size the registry and dedup modules were split to. No Spark
session: seconds."""

from __future__ import annotations

import importlib
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
