"""Every public package function or class has a non-test caller.

A public top-level ``def``/``class`` of the package is *reached* when it is
a ``@register`` gate, or when a non-test module (the package itself,
``bench.py``, ``perfbench/``, ``tools/``, ``__spark_entry__.py``) names it
outside its own body, as a bare name, an attribute or an import alias.
Anything else must be in ``ALLOWED`` with the reason it stays.  The traced
bench run names its engine functions as strings, so a last test resolves
each of them.  Spark-free: the scan only parses source.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "vector_search_question_answer_api_spark"

ALLOWED: dict[str, str] = {
    # service roots with no in-repo caller
    "corpus_status": "the reference's /health endpoint",
    "read_documents_mongo": "the reference's only source, MongoDB",
    "attach_session_state": "the reference's live session store; shares "
    "_fold_session_rows with the batch fold",
    # seams to a real model or codec that the engine does not bundle
    "SentenceTransformerEmbedder": "the real-model embedder seam",
    "decode_media": "the production media-decode seam; raises without a codec",
    # sizing rules kept in place of probe scripts
    "recommended_insert_efc": "measured insert-beam rule (SCALE.md r14)",
    "recommended_probe_pruning": "measured radius-pruning rule",
    "recommended_postings_compaction_every": "measured postings cadence rule",
    "recommended_profile_rebuild_every": "measured profile-rebuild cadence rule",
    # store lifecycle verbs an operator runs outside the ingest stream
    "append_tombstones": "one-shot batch deletion into the index log",
    "read_index_asof": "time-travel read of the index log",
    "purge_corpus_spans": "right-to-be-forgotten purge of the span store",
    "purge_graph_tombstones": "quiesced purge of deleted vectors from graph blobs",
    "read_corpus_profile": "merged profile read of a maintained corpus",
    "read_corpus_lsh_artifact": "LSH artifact derived from the profile store",
    "cell_health_report": "standing cell-occupancy check of a cell store",
    "corpus_profile": "one-shot profile the ingest profile store must equal",
    # references for tests
    "hamming_distance_bits": "brute-force reference for test_dedup.py",
}


def _callers():
    yield from sorted(PKG.rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"
    for d in ("perfbench", "tools"):
        yield from sorted((ROOT / d).glob("*.py"))


def _is_gate(node) -> bool:
    for dec in node.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _scan():
    """(public names -> defining module, names referenced by a caller)."""
    public, referenced = {}, set()
    for path in _callers():
        tree = ast.parse(path.read_text())
        in_pkg = PKG in path.parents
        for node in tree.body:
            defines = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if defines and in_pkg and not node.name.startswith("_"):
                if not _is_gate(node):
                    public.setdefault(node.name, path.relative_to(ROOT))
                # a name used only inside its own body (recursion) is not
                # a caller; its decorators and defaults still count
                referenced.update(
                    n for n in _names(node) if n != node.name
                )
            else:
                referenced.update(_names(node))
    return public, referenced


def test_every_public_name_has_a_non_test_caller():
    public, referenced = _scan()
    unreached = sorted(
        f"{mod}: {name}"
        for name, mod in public.items()
        if name not in referenced and name not in ALLOWED
    )
    assert not unreached, unreached


def test_allowed_entries_are_live_and_still_unreached():
    public, referenced = _scan()
    stale = sorted(
        name for name in ALLOWED if name not in public or name in referenced
    )
    assert not stale, stale


def test_perfbench_trace_targets_exist():
    """Every engine function ``perfbench`` wraps for its traced run still
    exists where it looks for it; a rename or move would otherwise fail
    only the traced bench run."""
    from perfbench import run, workloads

    layers = []

    class Tracer:
        def wrap(self, module, attr, name, force=False):
            assert hasattr(module, attr), f"{module.__name__}.{attr}"
            layers.append(name)

    run._install_ingest_tracing(Tracer())
    assert set(layers) == set(run.INGEST_LAYERS), layers
    for name, cls in workloads.WORKLOADS.items():
        layers.clear()
        cls.__new__(cls).trace(Tracer())
        assert layers, name
