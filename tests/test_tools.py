"""The command-line tools stay importable, nothing points at a deleted
tool, and every slow-tier key names an existing test.  Spark-free:
importing a tool builds no session."""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

import pytest
from conftest import _SLOW_TESTS

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


def test_slow_tier_keys_name_existing_tests():
    # a key left behind by a renamed test would silently move the test
    # into the default tier; keys are `file::test[param]` or
    # `file::Class::test`
    defined = {}
    for path in (ROOT / "tests").glob("test_*.py"):
        names = defined.setdefault(path.name, set())
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                names.add(node.name)
            elif isinstance(node, ast.ClassDef):
                names.update(f"{node.name}::{f.name}" for f in node.body
                             if isinstance(f, ast.FunctionDef))
    missing = []
    for key in sorted(_SLOW_TESTS):
        fname, _, name = key.partition("::")
        if name.split("[")[0] not in defined.get(fname, ()):
            missing.append(key)
    assert _SLOW_TESTS and not missing, missing


def test_dump_plans_masks_run_specific_ids():
    from tools.dump_plans import mask_ids

    def plan(stage, plan_id, expr):
        return (
            f"+- ShuffleQueryStage (9)\n\n(9) ShuffleQueryStage\n"
            f"Output [1]: [doc_id#{expr}L]\nArguments: {stage}\n\n"
            f"(10) Project [codegen id : {stage + 4}]\n\n"
            f"(8) Exchange\nArguments: hashpartitioning(doc_id#{expr}L, 4), "
            f"REPARTITION_BY_NUM, [plan_id={plan_id}]\n"
        )

    a, b = plan(0, 4047, 4144), plan(1, 5120, 6001)
    assert a != b and mask_ids(a) == mask_ids(b)
    # operator ids and partition counts are plan structure, not run ids
    assert "(9) ShuffleQueryStage" in mask_ids(a)
    assert mask_ids(a) != mask_ids(a.replace(", 4)", ", 8)"))
