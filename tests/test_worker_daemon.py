"""Warm Python workers: the stat-checked zip invalidation of
``worker_daemon`` and the per-worker token memo of ``operators/embed``.

The first half is Spark-free: it counts ``zipimport._read_directory`` calls
on a temporary archive.  The second half runs on the ``get_spark`` session.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark import worker_daemon
from vector_search_question_answer_api_spark.operators import embed as E

py311 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport re-reads lazily on >=3.12"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch):
    """A stock ``zipimporter`` with fresh stamps and a counting
    ``_read_directory``, all restored after the test.  Yields the archives
    read, one entry per directory read."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._STOCK
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield reads


@py311
def test_unchanged_archive_is_not_reread(tmp_path, patched):
    reads = patched
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n"})
    # one importer per subpackage path, as a worker holds over pyspark.zip
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive + "/sub")]
    reads.clear()
    importers[0].invalidate_caches()
    assert len(reads) == 1  # stock: every call re-reads

    assert worker_daemon.install()
    reads.clear()
    for imp in importers:  # the first pass stamps the archive once
        imp.invalidate_caches()
    assert len(reads) == 1
    reads.clear()
    for _ in range(2):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in importers)
    assert importers[0].find_spec("wd_probe_a") is not None


@py311
def test_rewritten_archive_is_reread_and_new_module_imports(
    tmp_path, patched, monkeypatch
):
    reads = patched
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_probe_b": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "wd_probe_b", raising=False)
    monkeypatch.delitem(sys.modules, "wd_probe_c", raising=False)
    assert worker_daemon.install()
    importlib.invalidate_caches()
    assert importlib.import_module("wd_probe_b").VALUE == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"wd_probe_b": "VALUE = 1\n", "wd_probe_c": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wd_probe_c").VALUE == 2


def test_install_is_a_noop_on_312_or_unknown_internals(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._STOCK
    )
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 12, 0, "final", 0))
        assert not worker_daemon.install()
    with monkeypatch.context() as m:
        m.delattr(zipimport, "_zip_directory_cache")
        assert not worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._STOCK


def test_token_memo_is_shared_bounded_and_bit_identical(monkeypatch):
    texts = ["alpha beta gamma", "beta beta delta", None, "", "gamma"]
    fresh = E.hashing_embed_numpy(texts, 16)
    memo = E._token_cache(16)
    assert E._token_cache(16) is memo
    assert {"alpha", "beta", "gamma", "delta"} <= set(memo._cache)
    assert E.hashing_embed_numpy(texts, 16).tobytes() == fresh.tobytes()

    monkeypatch.setattr(E, "_TOKEN_CACHES", {})
    monkeypatch.setattr(E, "_TOKEN_MEMO_BYTES", 2 * 16 * 8)
    assert E.hashing_embed_numpy(texts, 16).tobytes() == fresh.tobytes()
    assert len(E._token_cache(16)._cache) == 2  # full: misses not inserted


def test_daemon_only_where_a_local_worker_can_import_it(tmp_path, monkeypatch):
    from vector_search_question_answer_api_spark import session

    root = session._ENGINE_ROOT
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._workers_can_import_engine("local[4]")
    assert not session._workers_can_import_engine("spark://host:7077")
    monkeypatch.chdir(tmp_path)
    assert not session._workers_can_import_engine("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_can_import_engine("local[4]")


# --- on the get_spark session ------------------------------------------


def test_get_spark_workers_run_the_patched_daemon(spark):
    @F.pandas_udf("string")
    def patch_module(s: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(s))

    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert conf == "vector_search_question_answer_api_spark.worker_daemon"
    got = {
        r[0]
        for r in spark.range(0, 8, numPartitions=4)
        .select(patch_module("id"))
        .distinct()
        .collect()
    }
    expected = "zipimport" if sys.version_info >= (3, 12) else worker_daemon.__name__
    assert got == {expected}


def test_jobs_on_one_worker_share_the_token_memo(spark):
    """Single-task jobs draw workers from the reused idle pool, so some
    worker pid repeats; on its second job the probe token, which only these
    jobs embed, is already in its memo."""

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import os

        from vector_search_question_answer_api_spark.operators import embed

        memo = embed._token_cache(64)
        seen = "wd-memo-probe-token" in memo._cache
        embed.hashing_embed_numpy(["wd-memo-probe-token"] * len(s), 64)
        return pd.Series([f"{os.getpid()}:{id(memo)}:{int(seen)}"] * len(s))

    first: dict[str, tuple[str, str]] = {}
    repeat = None
    for _ in range(64):
        pid, memo_id, seen = spark.range(0, 1, numPartitions=1).select(
            probe("id")
        ).head()[0].split(":")
        if pid in first:
            repeat = (first[pid], (memo_id, seen))
            break
        first[pid] = (memo_id, seen)
    assert repeat is not None, "no worker ran two of the jobs"
    assert all(seen == "0" for _, seen in first.values())
    (memo_a, _), (memo_b, seen_b) = repeat
    assert memo_a == memo_b and seen_b == "1"


def test_hashing_embedder_bit_identical_to_fresh_cache(spark, sf_dir, monkeypatch):
    from vector_search_question_answer_api_spark.functions import text as TXT
    from vector_search_question_answer_api_spark.sources.tables import load_table

    pre = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", TXT.preprocess_text(F.col("text")).alias("t"))
        .orderBy("doc_id")
    )
    texts = [r["t"] for r in pre.collect()]
    monkeypatch.setattr(E, "_TOKEN_CACHES", {})
    ref = E.hashing_embed_numpy(texts, 64)
    embedded = pre.select(E.HashingEmbedder(64)(F.col("t")).alias("v"))
    for _ in range(2):  # the second job embeds from warm worker memos
        got = np.array([r["v"] for r in embedded.collect()], dtype=np.float32)
        assert got.tobytes() == ref.tobytes()
