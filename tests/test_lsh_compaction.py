"""The maintained LSH signature store's READ path and compaction cadence
(VERDICT r11 asks #1/#2):

- ``read_lsh_signatures`` resolves base ∪ log with a LOG-SIZED window and
  a broadcast anti-join — the base (corpus x n_tables rows) never rides a
  shuffle; pinned both by value (identical to the full-window reference
  form, including tombstones and intra-batch latest-wins) and by plan
  (no Exchange ancestor over the base scan).
- ``compact_lsh_signatures`` folds the resolved view into a new base
  generation WITHOUT re-hashing (monkeypatch pin), under the
  manifest/retire/grace protocol; compacted ≡ log-bearing, replay-safe
  bounded folds, crash windows leave a readable store.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators import ann


def _mk_index(spark, ids, version=0, dim=8):
    """Deterministic toy index: doc i at text-version v gets a distinct
    direction, so an upsert genuinely moves its signatures."""
    rows = [
        (
            int(i),
            [1.0 if j == (i + 3 * version) % dim else 0.1 for j in range(dim)],
            1000 * version + int(i),
        )
        for i in ids
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, norm_embedding array<double>, ts long"
    )
    return df.withColumn("ts", F.timestamp_millis(F.col("ts")))


def _tombs(spark, ids, version):
    rows = [(int(i), None, 1000 * version + int(i)) for i in ids]
    df = spark.createDataFrame(
        rows, "doc_id long, norm_embedding array<double>, ts long"
    )
    return df.withColumn("ts", F.timestamp_millis(F.col("ts")))


def _sig_set(df):
    return {(int(r["doc_id"]), r["sig"]) for r in df.collect()}


def _reference_resolution(spark, path):
    """The pre-r12 full-window form — base(_batch=-1) ∪ log, one window
    over EVERYTHING — kept here as the value reference the log-sized
    read path must reproduce exactly."""
    sources = []
    base_p = ann._base_dir(ann.signature_store(path))
    if base_p is not None:
        sources.append(
            spark.read.parquet(base_p)
            .select("doc_id", "sig")
            .withColumn("_batch", F.lit(-1).cast("long"))
        )
    dirs = ann.signature_store(path).log_dirs(ann._LSH_SIG_LOG)
    if dirs:
        sources.append(
            spark.read.option(
                "basePath", os.path.join(path, ann._LSH_SIG_LOG)
            )
            .parquet(*dirs)
            .select(
                "doc_id", "sig", F.col("batch").cast("long").alias("_batch")
            )
        )
    u = sources[0]
    for s in sources[1:]:
        u = u.unionByName(s)
    w = Window.partitionBy("doc_id")
    return (
        u.withColumn("_mx", F.max("_batch").over(w))
        .filter(F.col("_batch") == F.col("_mx"))
        .filter(F.col("sig").isNotNull())
        .select("doc_id", "sig")
    )


@pytest.fixture()
def store(spark, tmp_path):
    """Base of docs 0-19 (v0) + three maintenance batches: upserts that
    MOVE signatures, a deletion, a revival, and an intra-batch
    multi-version doc — every resolution rule exercised."""
    path = str(tmp_path / "lsh")
    ann.write_lsh_index(_mk_index(spark, range(20)), path, n_planes=6, n_tables=2)
    art = ann.read_lsh_artifact(path)
    # batch 0: docs 0-4 move to v1; doc 5 deleted
    b0 = _mk_index(spark, range(5), version=1).unionByName(
        _tombs(spark, [5], version=1)
    )
    ann.append_lsh_signatures_batch(b0, path, 0, art)
    # batch 1: doc 5 revived at v2; doc 0 upserted TWICE within the batch
    # (v1 then v2 by ts — the final version must win); doc 6 deleted
    b1 = (
        _mk_index(spark, [5], version=2)
        .unionByName(_mk_index(spark, [0], version=1))
        .unionByName(_mk_index(spark, [0], version=2))
        .unionByName(_tombs(spark, [6], version=2))
    )
    ann.append_lsh_signatures_batch(b1, path, 1, art)
    # batch 2: brand-new doc 20 (log-only doc, never in the base)
    ann.append_lsh_signatures_batch(
        _mk_index(spark, [20], version=0), path, 2, art
    )
    return path, art


def _expected(spark, art):
    """The store fixture's final corpus, hashed one-shot."""
    final = (
        _mk_index(spark, [0], version=2)
        .unionByName(_mk_index(spark, range(1, 5), version=1))
        .unionByName(_mk_index(spark, [5], version=2))
        .unionByName(_mk_index(spark, range(7, 20), version=0))
        .unionByName(_mk_index(spark, [20], version=0))
    )
    return _sig_set(
        ann.signatures_from_artifact(final, "norm_embedding", art).select(
            "doc_id", F.explode("lsh_sigs").alias("sig")
        )
    )


def test_log_sized_resolution_equals_window_reference(spark, store):
    path, art = store
    got = _sig_set(ann.read_lsh_signatures(spark, path))
    assert got == _sig_set(_reference_resolution(spark, path))
    assert got == _expected(spark, art)
    # 20 live docs (20 base - deleted 6 + revived 5 + new 20), 2 tables each
    assert len(got) == 20 * 2


def _node_offset(line: str) -> int:
    """Column where the operator name starts in an executedPlan line —
    subtree membership is encoded in the tree-prefix width."""
    i = 0
    while i < len(line) and line[i] in " :+-*()0123456789":
        i += 1
    return i


def test_read_plan_base_never_shuffles(spark, store):
    """VERDICT r11 #1 done-criterion: no Exchange on the base side — the
    base signature scan's ANCESTORS contain no Exchange of any kind (it
    streams straight into the broadcast anti-join and the union), and the
    anti-join builds on the log side."""
    path, _ = store
    df = ann.read_lsh_signatures(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    lines = plan.splitlines()
    base_idx = [
        i
        for i, l in enumerate(lines)
        if "FileScan parquet" in l
        and ("/signatures]" in l or "/signatures/" in l or ".sig-gen-" in l)
    ]
    # fallback: identify the base scan structurally — the only FileScan
    # whose read columns are exactly [doc_id, sig] with no partition col
    if not base_idx:
        import re

        base_idx = [
            i
            for i, l in enumerate(lines)
            if re.search(r"FileScan parquet \[doc_id#\d+L?,sig#\d+\]", l)
        ]
    assert base_idx, plan
    for bi in base_idx:
        off = _node_offset(lines[bi])
        # walk ancestors: nearest preceding lines with smaller offset
        j, cur = bi - 1, off
        while j >= 0:
            o = _node_offset(lines[j])
            if o < cur:
                assert "Exchange" not in lines[j], (
                    f"base scan rides an Exchange:\n{lines[j]}\n\n{plan}"
                )
                cur = o
            j -= 1


def test_compaction_never_rehashes(spark, store, monkeypatch):
    """Compaction is a latest-wins rewrite of already-computed rows — the
    signature kernel must never run (the whole point vs write_lsh_index)."""
    path, _ = store

    def boom(*a, **kw):
        raise AssertionError("compaction invoked the signature kernel")

    monkeypatch.setattr(ann, "with_lsh_signatures", boom)
    monkeypatch.setattr(ann, "_signatures_arrow", boom)
    assert ann.compact_lsh_signatures(spark, path) is True


def test_compacted_equals_log_bearing_relation(spark, store):
    """VERDICT r11 #2 done-criterion: compacted ≡ log-bearing after
    upsert+delete+revival batches; the folded store reads as a pure base
    scan; a second compaction is a no-op; post-compaction appends resolve
    on top of the new generation."""
    path, art = store
    before = _sig_set(ann.read_lsh_signatures(spark, path))
    assert ann.compact_lsh_signatures(spark, path) is True
    after = _sig_set(ann.read_lsh_signatures(spark, path))
    assert after == before
    # log dirs are retired from resolution (grace-kept on disk)
    assert ann.signature_store(path).log_dirs(ann._LSH_SIG_LOG) == []
    assert os.path.isfile(os.path.join(path, ann._SIG_MANIFEST))
    # pure scan now: no join, no window in the plan
    plan = (
        ann.read_lsh_signatures(spark, path)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Window" not in plan, plan
    # idempotent: nothing left to fold
    assert ann.compact_lsh_signatures(spark, path) is False
    # maintenance continues on top of the generation: upsert + delete
    b3 = _mk_index(spark, [7], version=3).unionByName(
        _tombs(spark, [8], version=3)
    )
    ann.append_lsh_signatures_batch(b3, path, 3, art)
    got = _sig_set(ann.read_lsh_signatures(spark, path))
    want = (before - {p for p in before if p[0] in (7, 8)}) | _sig_set(
        ann.signatures_from_artifact(
            _mk_index(spark, [7], version=3), "norm_embedding", art
        ).select("doc_id", F.explode("lsh_sigs").alias("sig"))
    )
    assert got == want
    # second compaction folds the new batch AND physically sweeps the
    # grace-retired paths from the first
    retired_first = ann.signature_store(path).retired()
    assert ann.compact_lsh_signatures(spark, path) is True
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == want
    for p_ in retired_first:
        assert not os.path.exists(p_), f"grace sweep missed {p_}"


def test_bounded_fold_is_replay_safe(spark, store):
    """up_to_batch=N excludes batch N's own dir — the in-stream cadence
    runs at batch START, so a crashed attempt's append is left for the
    replaying handler's overwrite and resolution is unchanged."""
    path, art = store
    before = _sig_set(ann.read_lsh_signatures(spark, path))
    assert ann.compact_lsh_signatures(spark, path, up_to_batch=2) is True
    # batch=2 (doc 20) survived the fold as a live log dir
    assert [
        os.path.basename(d)
        for d in ann.signature_store(path).log_dirs(ann._LSH_SIG_LOG)
    ] == [
        "batch=2"
    ]
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == before
    # the replaying handler overwrites batch 2 — identical rows, same id
    ann.append_lsh_signatures_batch(
        _mk_index(spark, [20], version=0), path, 2, art
    )
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == before


def test_crash_windows_leave_readable_store(spark, store):
    path, art = store
    before = _sig_set(ann.read_lsh_signatures(spark, path))
    # (a) crash AFTER the generation write, BEFORE the manifest publish:
    # an orphan .sig-gen-* that no reader references
    orphan = os.path.join(path, ".sig-gen-000917")
    ann.read_lsh_signatures(spark, path).limit(0).write.mode(
        "overwrite"
    ).parquet(orphan)
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == before
    # the next compaction sweeps the orphan and publishes normally
    assert ann.compact_lsh_signatures(spark, path) is True
    assert not os.path.exists(orphan)
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == before
    # (b) crash AFTER the manifest publish, BEFORE the retire write: the
    # folded log dirs are still listed as live — they double-resolve to
    # the exact rows the generation holds, so reads stay identical
    ann.append_lsh_signatures_batch(
        _mk_index(spark, [9], version=4), path, 4, art
    )
    want = _sig_set(ann.read_lsh_signatures(spark, path))
    assert ann.compact_lsh_signatures(spark, path) is True
    os.remove(os.path.join(path, ann._SIG_RETIRED))  # simulate the crash
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == want
    # and the next compaction recovers (re-folds the same rows)
    assert ann.compact_lsh_signatures(spark, path) is True
    assert _sig_set(ann.read_lsh_signatures(spark, path)) == want


def test_rebuild_clears_generations(spark, store):
    """write_lsh_index remains the FULL rebuild: it supersedes compacted
    generations too — no stale SIG_MANIFEST may shadow the fresh base."""
    path, _ = store
    assert ann.compact_lsh_signatures(spark, path) is True
    idx = _mk_index(spark, range(5), version=7)
    ann.write_lsh_index(idx, path, n_planes=6, n_tables=2)
    assert not os.path.isfile(os.path.join(path, ann._SIG_MANIFEST))
    assert not [
        d for d in os.listdir(path) if d.startswith(".sig-gen-")
    ]
    got = _sig_set(ann.read_lsh_signatures(spark, path))
    art = ann.read_lsh_artifact(path)
    assert got == _sig_set(
        ann.signatures_from_artifact(idx, "norm_embedding", art).select(
            "doc_id", F.explode("lsh_sigs").alias("sig")
        )
    )


def test_in_stream_compaction_cadence(spark, tmp_path):
    """maintain_corpus(compact_lsh_every=2) over four batches (upserts,
    moves, a deletion): the final resolved view equals a fresh
    write_lsh_index rebuild of the resolved index, the store is
    generation-based, and the log depth is bounded by the cadence."""
    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table
    from vector_search_question_answer_api_spark.streaming import (
        ingest_stream as IG,
    )

    tmp = tmp_path
    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .filter("doc_id < 24")
        .select(
            "doc_id",
            F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
            "text",
            "n_chars",
            F.lit(False).alias("_delete"),
        )
    )
    b0 = docs.filter("doc_id < 12")
    b1 = docs.filter("doc_id >= 12")
    b2 = (
        docs.filter("doc_id < 6")
        .withColumn("text", F.concat(F.lit("moved "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    b3 = (
        docs.filter("doc_id = 7")
        .withColumn("_delete", F.lit(True))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
    )
    for i, b in enumerate((b0, b1, b2, b3)):
        b.coalesce(1).write.parquet(f"{tmp}/src/b{i}")
    center = ann.corpus_center(build_index(b0))
    art = {
        "family": ann.LSH_FAMILY,
        "dim": 64,
        "n_planes": ann.DEFAULT_N_PLANES,
        "n_tables": ann.DEFAULT_N_TABLES,
        "center": center,
    }
    with pytest.raises(ValueError, match="requires lsh_artifact"):
        IG.maintain_corpus(
            spark.readStream.schema(docs.schema).parquet(f"{tmp}/src/*"),
            str(tmp / "x"),
            checkpoint=str(tmp / "xc"),
            compact_lsh_every=2,
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    q = IG.maintain_corpus(
        stream,
        str(tmp / "corpus"),
        checkpoint=str(tmp / "ckpt"),
        dim=64,
        trigger_once=True,
        lsh_artifact=art,
        compact_lsh_every=2,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"
    root = str(tmp / "corpus")
    lsh_path = IG.corpus_lsh_path(root)
    # compaction ran: generation manifest exists, live log depth < total
    assert os.path.isfile(os.path.join(lsh_path, ann._SIG_MANIFEST))
    live = ann.signature_store(lsh_path).log_dirs(ann._LSH_SIG_LOG)
    assert len(live) <= 2, live  # batches since the last fold only
    index = IG.read_corpus_index(spark, root)
    assert index.count() == 23  # 24 docs - 1 deleted
    rebuilt = str(tmp / "rebuilt")
    ann.write_lsh_index(
        index,
        rebuilt,
        n_planes=art["n_planes"],
        n_tables=art["n_tables"],
        center=center,
    )
    assert _sig_set(ann.read_lsh_signatures(spark, lsh_path)) == _sig_set(
        ann.read_lsh_signatures(spark, rebuilt)
    )


def test_recommended_lsh_compaction_every_codifies_sweep():
    """r12: the compaction-cadence rule N* = sqrt(2C/(r*m)) pinned at the
    measured sweep point (measurements/r12_lsh_log_depth.json: marginal
    premium m=0.020 s/log batch, fold cost C=0.90 s on the bench
    geometry) and at its limits."""
    from vector_search_question_answer_api_spark.operators.ann import (
        recommended_lsh_compaction_every,
    )

    # the measured point: one read per batch interval -> compact every ~9
    assert recommended_lsh_compaction_every(1, 0.895, 0.0203) == 9
    # read-heavy serving pulls the cadence to every batch
    assert recommended_lsh_compaction_every(100, 0.895, 0.0203) == 1
    # nothing reads between batches -> fold rarely (capped)
    assert recommended_lsh_compaction_every(0, 0.895, 0.0203) == 256
    # a free fold -> compact always
    assert recommended_lsh_compaction_every(10, 0.0, 0.0203) == 1
    # cost rate r*m*N/2 + C/N really is minimized at the returned N
    r, C, m = 1, 0.895, 0.0203
    n_star = recommended_lsh_compaction_every(r, C, m)

    def rate(n):
        return r * m * n / 2 + C / n

    assert all(rate(n_star) <= rate(n) + 1e-9 for n in (n_star - 1, n_star + 1))
