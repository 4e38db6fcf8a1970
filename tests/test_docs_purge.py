"""Docs-store physical purge (r12): ``purge_docs_versions`` — the
right-to-be-forgotten verb for the one store that otherwise retains
every version's raw text forever (deleted docs included).

Pinned contracts: the resolved live view is identical after a purge;
batch-bounded reads at/after the horizon are identical and below it
RAISE; event-axis as-of reads degrade to absent-not-wrong; the purged
text is PHYSICALLY gone after the next purge's grace deletion; horizons
are monotone; maintenance continues on a purged store."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.streaming import (
    ingest_stream as IG,
)

OLD_ZERO = "alpha zero original sentinel"
NEW_ZERO = "alpha zero updated"
DELETED_ONE = "bravo one takedown sentinel"
OLD_TWO = "charlie two original sentinel"
NEW_TWO = "charlie two updated"
THREE = "delta three only version"
FOUR = "echo four late arrival"


def _write_batch(spark, droot, batch_id, rows):
    """rows: (doc_id, ts_ms, text_or_None); None text = deletion row —
    the exact relation the maintain_corpus handler writes per batch."""
    df = spark.createDataFrame(
        [
            (d, ts, t, None if t is None else len(t), t is None)
            for d, ts, t in rows
        ],
        "doc_id long, ts long, text string, n_chars long, _tomb boolean",
    ).select(
        "doc_id",
        F.timestamp_millis(F.col("ts")).alias("ts"),
        "text",
        "n_chars",
        "_tomb",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(droot, f"batch={int(batch_id)}")
    )


@pytest.fixture()
def store(spark, tmp_path):
    """Four batches: inserts, update+birth, delete+update, late birth."""
    root = str(tmp_path / "corpus")
    droot = os.path.join(root, "docs")
    _write_batch(
        spark, droot, 0,
        [(0, 1000, OLD_ZERO), (1, 1001, DELETED_ONE), (2, 1002, OLD_TWO)],
    )
    _write_batch(spark, droot, 1, [(0, 5000, NEW_ZERO), (3, 5003, THREE)])
    _write_batch(spark, droot, 2, [(1, 9000, None), (2, 9002, NEW_TWO)])
    _write_batch(spark, droot, 3, [(4, 11000, FOUR)])
    return root


def _live(spark, root, **kw):
    return sorted(
        (int(r["doc_id"]), r["text"])
        for r in IG.read_corpus_docs(spark, root, **kw).collect()
    )


def test_purge_preserves_resolved_and_bounded_reads(spark, store):
    before = _live(spark, store)
    before_e2 = _live(spark, store, up_to_batch=2)
    assert before == [(0, NEW_ZERO), (2, NEW_TWO), (3, THREE), (4, FOUR)]
    assert IG.purge_docs_versions(spark, store, before_batch=3) is True
    assert _live(spark, store) == before
    assert _live(spark, store, up_to_batch=2) == before_e2  # == horizon-1
    assert _live(spark, store, up_to_batch=3) == before
    with pytest.raises(ValueError, match="purge horizon"):
        IG.read_corpus_docs(spark, store, up_to_batch=1)


def test_asof_degrades_to_absent_not_wrong(spark, store):
    # pre-purge: T=6000 sees doc 0 at v1, docs 1/2 at v0, doc 3
    pre = dict(_live(spark, store, asof_ts=datetime.fromtimestamp(6.0)))
    assert pre == {0: NEW_ZERO, 1: DELETED_ONE, 2: OLD_TWO, 3: THREE}
    IG.purge_docs_versions(spark, store, before_batch=3)
    post = dict(_live(spark, store, asof_ts=datetime.fromtimestamp(6.0)))
    # surviving resolutions are exact; purged ones are ABSENT, never a
    # wrong version (doc 1's winner below the horizon was its tombstone;
    # doc 2's winner is the later update, filtered out at T=6000)
    assert post == {0: NEW_ZERO, 3: THREE}
    for doc, text in post.items():
        assert pre[doc] == text


def test_purged_text_is_physically_gone_after_grace(spark, store):
    droot = os.path.join(store, "docs")
    assert IG.purge_docs_versions(spark, store, before_batch=3) is True
    # grace period: the folded dirs are retired, not yet deleted
    retired = IG._docs_store(droot).retired()
    assert retired and all(os.path.isdir(p) for p in retired)
    # second purge (same horizon: idempotent re-fold) grace-deletes them
    assert IG.purge_docs_versions(spark, store, before_batch=3) is True
    assert not any(os.path.exists(p) for p in retired)

    # physical deletion = the files that held the old text are GONE and
    # the surviving files' decoded content (every parquet file under the
    # store, read directly — not through any resolution) lacks it
    import pyarrow.parquet as pq

    surviving = set()
    for dirpath, _dirs, files in os.walk(droot):
        for fn in files:
            if fn.endswith(".parquet"):
                t = pq.read_table(
                    os.path.join(dirpath, fn), columns=["text"]
                )
                surviving |= {v for v in t.column("text").to_pylist() if v}
    assert OLD_ZERO not in surviving
    assert DELETED_ONE not in surviving
    assert OLD_TWO not in surviving
    # live text survives
    assert {NEW_ZERO, NEW_TWO, THREE, FOUR} <= surviving
    # and the store still serves the same live view
    assert _live(spark, store) == [
        (0, NEW_ZERO), (2, NEW_TWO), (3, THREE), (4, FOUR),
    ]


def test_horizon_is_monotone_and_bounded(spark, store):
    IG.purge_docs_versions(spark, store, before_batch=3)
    with pytest.raises(ValueError, match="monotone"):
        IG.purge_docs_versions(spark, store, before_batch=2)
    with pytest.raises(ValueError, match="frontier"):
        IG.purge_docs_versions(spark, store, before_batch=99)


def test_maintenance_continues_after_purge(spark, store):
    IG.purge_docs_versions(spark, store, before_batch=3)
    droot = os.path.join(store, "docs")
    _write_batch(spark, droot, 4, [(0, 20000, "alpha zero third")])
    assert _live(spark, store) == [
        (0, "alpha zero third"), (2, NEW_TWO), (3, THREE), (4, FOUR),
    ]
    assert _live(spark, store, up_to_batch=3) == [
        (0, NEW_ZERO), (2, NEW_TWO), (3, THREE), (4, FOUR),
    ]
    # a later purge folds the post-purge batches too
    assert IG.purge_docs_versions(spark, store, before_batch=5) is True
    assert _live(spark, store) == [
        (0, "alpha zero third"), (2, NEW_TWO), (3, THREE), (4, FOUR),
    ]


def test_purge_below_everything_is_a_noop(spark, store):
    assert IG.purge_docs_versions(spark, store, before_batch=0) is False
    assert _live(spark, store) == [
        (0, NEW_ZERO), (2, NEW_TWO), (3, THREE), (4, FOUR),
    ]


def test_frontier_guard_survives_a_full_fold(spark, store):
    """r12 review fix: once every live batch dir has been folded, the
    foot-gun guard must bound against the frontier the manifest
    persisted — not silently pass because no dirs remain."""
    assert IG.purge_docs_versions(spark, store, before_batch=4) is True
    with pytest.raises(ValueError, match="frontier"):
        IG.purge_docs_versions(spark, store, before_batch=99)
    # a legitimate re-fold at the same horizon still works
    assert IG.purge_docs_versions(spark, store, before_batch=4) is True


def test_retention_cadence_inside_the_stream(spark, tmp_path):
    """``maintain_corpus(purge_docs_every=, docs_retain_batches=)``: the
    purge runs as an in-stream retention policy — resolved serving is
    unchanged, the horizon advances with the cadence, history older than
    the window is physically erased once its files pass a grace cycle,
    and a checkpoint replay changes nothing.

    Schedule here (every=2, retain=2, batches 0-7): the batch-2 firing
    skips (horizon would be 0), batch-4 folds dirs 0-1 (retired), batch-6
    folds dirs 2-3 and GRACE-DELETES dirs 0-1 — so the ORIGINAL texts of
    the updated docs (batch 0) are physically gone, while their v2
    winners legitimately survive inside the still-retired first
    generation until a later cycle."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.sources.tables import (
        load_table,
    )

    tmp = str(tmp_path)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    b0 = docs.filter("doc_id < 20")
    orig_updated = {
        r["text"] for r in docs.filter("doc_id < 4").select("text").collect()
    }

    def upd(tag, ms):
        return (
            docs.filter("doc_id < 4")
            .withColumn("text", F.concat(F.lit(tag), "text"))
            .withColumn("n_chars", F.length("text"))
            .withColumn("ts", F.timestamp_millis(F.lit(ms)))
        )

    dels = docs.filter("doc_id = 19").select(
        "doc_id",
        F.timestamp_millis(F.lit(15_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    batches = (
        b0,
        upd("v2 ", 10_000_000),
        upd("v3 ", 20_000_000).unionByName(dels),
        upd("v4 ", 30_000_000),
        upd("v5 ", 40_000_000),
        upd("v6 ", 50_000_000),
        upd("v7 ", 60_000_000),
        upd("v8 ", 70_000_000),
    )
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{tmp}/src/b{i}")

    def run():
        q = IG.maintain_corpus(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src/*"),
            f"{tmp}/corpus",
            checkpoint=f"{tmp}/ckpt",
            dim=16,
            trigger_once=True,
            docs_store=True,
            purge_docs_every=2,
            docs_retain_batches=2,
        )
        assert q.awaitTermination(300)

    run()
    root = f"{tmp}/corpus"
    live = _live(spark, root)
    assert dict(live)[0].startswith("v8 ")
    assert 19 not in dict(live) and len(live) == 19
    st = IG.corpus_status(root)
    assert st["stores"]["docs"]["purged_below"] == 4  # batch-6 firing
    with pytest.raises(ValueError, match="purge horizon"):
        IG.read_corpus_docs(spark, root, up_to_batch=2)
    # inside the window: exact
    assert dict(_live(spark, root, up_to_batch=3))[0].startswith("v4 ")
    # batch-0 originals of the updated docs passed a full grace cycle:
    # physically gone from every surviving file
    import pyarrow.parquet as pq

    droot = os.path.join(root, "docs")
    texts = set()
    for dirpath, _dirs, files in os.walk(droot):
        for fn in files:
            if fn.endswith(".parquet"):
                t = pq.read_table(os.path.join(dirpath, fn), columns=["text"])
                texts |= {v for v in t.column("text").to_pylist() if v}
    assert not (texts & orig_updated)
    # replay: same checkpoint, no new source files -> nothing changes
    run()
    assert _live(spark, root) == live
    assert IG.corpus_status(root)["stores"]["docs"]["purged_below"] == 4
