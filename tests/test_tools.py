"""Every script under ``tools/`` must import and must have a named
consumer: a test that imports or names it, or a ``python tools/X.py``
line (a "Generated by" stamp or a rerun command) in a repo ``.md``.
A script that stops meeting both is a candidate for deletion."""
from __future__ import annotations

import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (ROOT / "tools").glob("*.py"))
# planning documents name tools they propose to keep or delete; only
# artifacts, README and the other reference docs count as consumers
PLANNING = {"ROADMAP.md", "CHANGES.md"}


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    # every entry point sits under ``__main__``: importing runs nothing
    importlib.import_module(f"tools.{name}")


@pytest.mark.parametrize("name", TOOLS)
def test_tool_has_a_consumer(name):
    tests = [p.read_text() for p in (ROOT / "tests").glob("*.py")
             if p.name != Path(__file__).name]
    in_tests = any(f"tools.{name}" in t or f"tools/{name}.py" in t
                   for t in tests)
    in_docs = any(
        f"python tools/{name}.py" in p.read_text()
        for p in ROOT.glob("*.md") if p.name not in PLANNING)
    assert in_tests or in_docs, (
        f"tools/{name}.py: no test names it and no .md has a "
        f"`python tools/{name}.py` line")
