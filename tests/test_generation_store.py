"""sources/generation_store.py — the one owner of the store file
protocol: manifest pointer, RETIRED exclusion, ``batch=<id>`` log
listing and fold horizon (pure file IO, no Spark)."""

from __future__ import annotations

import json
import os

import pytest

from vector_search_question_answer_api_spark.sources.generation_store import (
    GenerationStore,
    batch_id_of,
)


def _store(path) -> GenerationStore:
    return GenerationStore(str(path), "M", "R", ".g-", "H")


def _mk_batches(root, sub, ids) -> None:
    for i in ids:
        os.makedirs(os.path.join(str(root), sub, f"batch={i}"))


def _names(dirs) -> list[str]:
    return [os.path.basename(d) for d in dirs]


def test_horizon_roundtrip_and_atomicity(tmp_path):
    s = _store(tmp_path)
    assert s.horizon() is None
    s.stamp_horizon(7)
    assert s.horizon() == 7
    s.stamp_horizon(9)  # overwrite, atomic replace
    assert s.horizon() == 9
    # no tmp residue after a clean stamp
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]


def test_batch_id_of_parses_log_dirs():
    assert batch_id_of("/a/b/postings_log/batch=42") == 42
    assert batch_id_of("batch=0") == 0


def test_log_dirs_sort_numerically(tmp_path):
    _mk_batches(tmp_path, "log", [10, 9, 2, 100])
    # batch=9 before batch=10: numeric, not lexicographic
    assert _names(_store(tmp_path).log_dirs("log")) == [
        "batch=2", "batch=9", "batch=10", "batch=100",
    ]
    # a store whose log dirs sit at its root
    _mk_batches(tmp_path / "docs", "", [3, 1])
    assert _names(_store(tmp_path / "docs").log_dirs("")) == [
        "batch=1", "batch=3",
    ]


def test_retired_entry_excluded_through_symlinked_store_path(tmp_path):
    real = tmp_path / "real"
    _mk_batches(real, "log", [1, 2, 3])
    link = tmp_path / "link"
    os.symlink(real, link)
    # the publish spells the store through the symlink, the reader
    # through the real path — and the other way round
    _store(link).publish(
        ".g-000000\n", [os.path.join(str(link), "log", "batch=2")]
    )
    assert _names(_store(real).log_dirs("log")) == ["batch=1", "batch=3"]
    assert _names(_store(link).log_dirs("log")) == ["batch=1", "batch=3"]
    assert _store(real).retired() == [
        os.path.join(os.path.realpath(real), "log", "batch=2")
    ]


def test_up_to_batch_bound_and_horizon(tmp_path):
    _mk_batches(tmp_path, "log", [4, 5, 6, 7])
    s = _store(tmp_path)
    # later batches drop; the bound is inclusive
    assert _names(s.log_dirs("log", up_to_batch=5)) == ["batch=4", "batch=5"]
    s.stamp_horizon(4)
    # a bound equal to the horizon serves
    assert _names(s.log_dirs("log", up_to_batch=4)) == ["batch=4"]
    s.check_horizon(4)
    # one below it raises
    with pytest.raises(ValueError, match="compaction horizon"):
        s.log_dirs("log", up_to_batch=3)
    with pytest.raises(ValueError, match="compaction horizon"):
        s.check_horizon(3)
    # no bound: no horizon check, every live dir
    assert len(s.log_dirs("log")) == 4


def test_current_gen_plain_json_and_absent(tmp_path):
    s = _store(tmp_path)
    assert s.current_gen() is None
    s.publish(".g-000003\n", [])
    assert s.current_gen() == ".g-000003"
    s.publish({"gen": ".g-000004", "purged_below": 2}, [])
    assert s.current_gen() == ".g-000004"
    assert json.loads(s.manifest_text())["purged_below"] == 2
    assert s.next_gen(s.current_gen()) == ".g-000005"
