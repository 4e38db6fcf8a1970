"""The command-line tools stay importable, and nothing points at a deleted
one.  Spark-free: importing a tool builds no session."""

from __future__ import annotations

import importlib
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (ROOT / "tools").glob("*.py") if p.stem != "__init__")

# `tools/<name>.py` (a path) or `tools.<name>` (a module), not e.g. the
# tail of `itertools.count`
_REF = re.compile(r"\btools(?:/(\w+)\.py|\.([a-z_][a-z0-9_]*))")


def _scanned_files():
    yield ROOT / "README.md"
    yield ROOT / "bench.py"
    for d in ("vector_search_question_answer_api_spark", "tests", "tools"):
        yield from sorted((ROOT / d).rglob("*.py"))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_tool_references_name_existing_files():
    missing = []
    for path in _scanned_files():
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for m in _REF.finditer(line):
                name = m.group(1) or m.group(2)
                if not (ROOT / "tools" / f"{name}.py").exists():
                    missing.append(f"{path.relative_to(ROOT)}:{lineno}: {m.group(0)}")
    assert not missing, missing
