"""Maintained on-disk BM25 postings store (operators/lexical_store.py):

- stored serving ≡ the one-shot ``bm25_topk`` over the resolved live
  corpus — fresh build, after upsert/delete/revive maintenance batches,
  after compaction, and after a full rebuild;
- resolution discipline pinned by plan (no Exchange ancestor over the
  base postings scan; partition filter on the term buckets) and by
  protocol (doclens = commit marker, half-written batches invisible and
  never retired; compaction re-tokenizes NOTHING; manifest conflicts and
  orphaned stores refuse loudly).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators import lexical_store as LX
from vector_search_question_answer_api_spark.operators.keyword_search import (
    bm25_topk,
)

DOCS_V0 = {
    0: "the quick brown fox jumps over the lazy dog",
    1: "the quick brown cat sleeps",
    2: "a lazy dog and a lazy cat",
    3: "foxes and dogs are not cats",
    4: "completely unrelated text about spark",
    5: "spark shuffles and broadcast joins",
}

QUERIES = [
    (100, "lazy dog"),
    (101, "quick spark"),
    (102, "cat"),
]


def _docs_df(spark, docs: dict[int, str]):
    return spark.createDataFrame(
        sorted(docs.items()), ["doc_id", "text"]
    )


def _queries_df(spark):
    return spark.createDataFrame(QUERIES, ["query_id", "query_text"])


def _batch_df(spark, rows):
    """rows: (doc_id, text_or_None, ts); text None => deletion row."""
    df = spark.createDataFrame(
        [(int(d), t, int(ts)) for d, t, ts in rows],
        "doc_id long, text string, ts long",
    )
    return df.withColumn("_tomb", F.col("text").isNull())


def _append(df, path, batch_id):
    LX.append_postings_batch(
        df, path, batch_id, n_buckets=8, tomb_col="_tomb"
    )


def _ranked(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]), r["score"])
        for r in df.collect()
    )


def _assert_equal_rankings(stored, oneshot):
    s, o = _ranked(stored), _ranked(oneshot)
    assert [(q, rk, d) for q, rk, d, _ in s] == [
        (q, rk, d) for q, rk, d, _ in o
    ]
    for (_, _, _, sv), (_, _, _, ov) in zip(s, o):
        # identical operand sets; only the float-sum order may differ,
        # and both sides round at 6 digits
        assert sv == pytest.approx(ov, abs=1e-9)


@pytest.fixture()
def store(tmp_path, spark):
    path = str(tmp_path / "postings_store")
    LX.write_postings_index(
        _docs_df(spark, DOCS_V0), path, n_buckets=8
    )
    return path


def test_stored_equals_oneshot_fresh_build(spark, store):
    q = _queries_df(spark)
    stored = LX.bm25_topk_stored(spark, store, q, k=4)
    oneshot = bm25_topk(_docs_df(spark, DOCS_V0), q, k=4)
    _assert_equal_rankings(stored, oneshot)
    assert stored.count() > 0


def test_maintained_equals_oneshot_through_lifecycle(spark, store):
    q = _queries_df(spark)
    docs = dict(DOCS_V0)

    # batch 1: new doc + text update of an existing doc
    _append(
        _batch_df(
            spark,
            [
                (6, "a brand new document about lazy spark dogs", 10),
                (1, "the quick brown cat now chases the lazy dog", 11),
            ],
        ),
        store,
        1,
    )
    docs[6] = "a brand new document about lazy spark dogs"
    docs[1] = "the quick brown cat now chases the lazy dog"
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )

    # batch 2: delete doc 2, update doc 6 again
    _append(
        _batch_df(
            spark,
            [(2, None, 20), (6, "spark document without the l-word", 21)],
        ),
        store,
        2,
    )
    del docs[2]
    docs[6] = "spark document without the l-word"
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )
    # deleted doc is gone from the resolved relations too
    assert (
        LX.read_doclens(spark, store).filter(F.col("doc_id") == 2).count()
        == 0
    )

    # batch 3: revive doc 2 with new text
    _append(
        _batch_df(spark, [(2, "the dog is back and very lazy", 30)]),
        store,
        3,
    )
    docs[2] = "the dog is back and very lazy"
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )

    # stats track the LIVE corpus exactly
    st = LX.corpus_stats(spark, store).first()
    from vector_search_question_answer_api_spark.operators.keyword_search import (
        build_postings,
    )

    ref = build_postings(_docs_df(spark, docs))[2].first()
    assert int(st["n_docs"]) == int(ref["n_docs"])
    assert st["avgdl"] == pytest.approx(ref["avgdl"])

    # compaction folds everything and serving is unchanged
    before = _ranked(LX.bm25_topk_stored(spark, store, q, k=4))
    assert LX.compact_postings(spark, store) is True
    assert _ranked(LX.bm25_topk_stored(spark, store, q, k=4)) == before
    # log dirs are retired from resolution (grace: still on disk)
    assert LX.postings_store(store).log_dirs(LX._DL_LOG) == []
    # deletion is physical in the fold: no doc-2 row predates batch 3
    gen = LX._base_dir(LX.postings_store(store))
    base_ids = {
        int(r["doc_id"])
        for r in spark.read.parquet(os.path.join(gen, "doclens")).collect()
    }
    assert base_ids == set(docs.keys())

    # maintenance continues on the compacted store
    _append(
        _batch_df(spark, [(7, "another quick spark doc", 40)]), store, 4
    )
    docs[7] = "another quick spark doc"
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )
    # second compaction grace-deletes the first fold's retired dirs
    retired_before = LX.postings_store(store).retired()
    assert any(os.path.exists(p) for p in retired_before)
    assert LX.compact_postings(spark, store) is True
    assert not any(os.path.exists(p) for p in retired_before)
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )


def test_intra_batch_latest_wins_and_same_batch_delete_tie(spark, store):
    q = _queries_df(spark)
    docs = dict(DOCS_V0)
    # doc 0 upserted twice in one batch: latest ts wins; doc 1 upserted
    # AND tombstoned in the same batch: tombstone wins the tie (the
    # index-log rule)
    _append(
        _batch_df(
            spark,
            [
                (0, "early version not served", 10),
                (0, "late version the quick lazy winner", 20),
                (1, "should never be served", 15),
                (1, None, 15),
            ],
        ),
        store,
        1,
    )
    docs[0] = "late version the quick lazy winner"
    del docs[1]
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )


def test_replay_overwrite_is_idempotent(spark, store):
    q = _queries_df(spark)
    b = _batch_df(spark, [(6, "replayed lazy spark doc", 10), (3, None, 11)])
    _append(b, store, 1)
    first = _ranked(LX.bm25_topk_stored(spark, store, q, k=4))
    _append(b, store, 1)  # checkpoint replay: same id, same rows
    assert _ranked(LX.bm25_topk_stored(spark, store, q, k=4)) == first


def test_bounded_fold_excludes_current_batch_and_replays(spark, store):
    """The in-stream contract: fold at batch N's START with
    up_to_batch=N, then the handler (re)writes batch N — resolution is
    identical whether or not a crashed attempt had appended N."""
    q = _queries_df(spark)
    docs = dict(DOCS_V0)
    _append(_batch_df(spark, [(6, "lazy spark one", 10)]), store, 1)
    docs[6] = "lazy spark one"
    b2 = _batch_df(spark, [(0, None, 20), (7, "quick cat seven", 21)])
    _append(b2, store, 2)  # the "crashed attempt" already appended
    assert LX.compact_postings(spark, store, up_to_batch=2) is True
    # batch 2's dirs survived the bounded fold un-retired
    assert {
        int(os.path.basename(d).split("=")[1])
        for d in LX.postings_store(store).log_dirs(LX._DL_LOG)
    } == {2}
    _append(b2, store, 2)  # the replaying handler overwrites
    del docs[0]
    docs[7] = "quick cat seven"
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )


def test_compaction_never_retokenizes(spark, store, monkeypatch):
    _append(_batch_df(spark, [(6, "lazy spark doc", 10)]), store, 1)

    def _boom(*a, **k):  # pragma: no cover - the pin
        raise AssertionError("compaction must not tokenize")

    monkeypatch.setattr(LX, "_batch_tokens", _boom)
    monkeypatch.setattr(LX, "_postings_of", _boom)
    assert LX.compact_postings(spark, store) is True


def test_half_written_batch_is_invisible_and_never_retired(spark, store):
    """The doclens write is the commit marker: a crash between the
    postings write and the doclens write leaves a batch the read path
    resolves away and the compactor leaves in place."""
    q = _queries_df(spark)
    baseline = _ranked(LX.bm25_topk_stored(spark, store, q, k=4))
    # simulate the crash: postings dir only
    toks = LX._batch_tokens(
        _batch_df(spark, [(6, "lazy spark ghost", 10)]),
        "doc_id",
        "text",
        "ts",
    )
    LX._postings_of(toks, 8).write.mode("overwrite").parquet(
        os.path.join(store, LX._POST_LOG, "batch=1")
    )
    assert _ranked(LX.bm25_topk_stored(spark, store, q, k=4)) == baseline
    # a fold neither folds nor retires the uncommitted dir
    assert LX.compact_postings(spark, store) is False
    assert os.path.isdir(os.path.join(store, LX._POST_LOG, "batch=1"))
    # the replaying handler completes the batch; it now serves
    _append(_batch_df(spark, [(6, "lazy spark ghost", 10)]), store, 1)
    docs = dict(DOCS_V0)
    docs[6] = "lazy spark ghost"
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )


def test_manifest_discipline(spark, store, tmp_path):
    # knob conflict refuses
    with pytest.raises(ValueError, match="refusing to append"):
        LX.append_postings_batch(
            _batch_df(spark, [(6, "x", 1)]), store, 1, n_buckets=16
        )
    # orphaned data without a manifest refuses bootstrap
    os.remove(os.path.join(store, LX._KNOB_MANIFEST))
    with pytest.raises(ValueError, match="crashed write_postings_index"):
        LX.append_postings_batch(
            _batch_df(spark, [(6, "x", 1)]), store, 1, n_buckets=8
        )
    # readers refuse too
    with pytest.raises(FileNotFoundError):
        LX.bm25_topk_stored(spark, store, _queries_df(spark))
    # a truly empty path bootstraps from the stream
    fresh = str(tmp_path / "bootstrapped")
    LX.append_postings_batch(
        _batch_df(spark, [(0, "lazy dog doc", 1)]), fresh, 0, n_buckets=8
    )
    got = LX.bm25_topk_stored(
        spark,
        fresh,
        spark.createDataFrame([(1, "lazy")], ["query_id", "query_text"]),
        k=2,
    )
    assert [int(r["doc_id"]) for r in got.collect()] == [0]


def test_rebuild_clears_generations(spark, store):
    q = _queries_df(spark)
    _append(_batch_df(spark, [(6, "lazy spark doc", 10)]), store, 1)
    LX.compact_postings(spark, store)
    docs = dict(DOCS_V0)
    docs.pop(5)
    LX.write_postings_index(_docs_df(spark, docs), store, n_buckets=8)
    # pointer state cleared
    assert LX._base_dir(LX.postings_store(store)) == store
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )


def _node_offset(line: str) -> int:
    """Column where the operator name starts in an executedPlan line —
    subtree membership is encoded in the tree-prefix width (the
    tests/test_lsh_compaction.py pin, reused)."""
    i = 0
    while i < len(line) and line[i] in " :+-*()0123456789":
        i += 1
    return i


def _base_scan_lines(lines):
    """Indices of FileScan lines over the BASE postings — identified
    structurally as the only tb-partitioned scan (the Location string is
    truncated in executedPlan output, so path matching is unreliable):
    the log scans carry a ``batch`` partition column instead, and the
    doclens scans carry no partition column at all."""
    return [
        i
        for i, ln in enumerate(lines)
        if "FileScan parquet" in ln and "tb#" in ln and "batch#" not in ln
    ]


def test_base_scan_rides_no_exchange_and_prunes_partitions(spark, store):
    """Plan pins (the test_lsh_compaction discipline): with a log
    present, the base postings scan (a) sits under no Exchange of any
    kind — resolution anti-joins broadcast log ids, never shuffles the
    corpus — and (b) carries a partition filter on ``tb``, so a query
    reads only its terms' buckets."""
    _append(_batch_df(spark, [(6, "lazy spark doc", 10)]), store, 1)
    tbs = LX.term_bucket_of(spark, ["lazy", "dog"], 8)
    assert len(tbs) <= 2
    resolved = LX.read_postings(
        spark, store, terms=["lazy", "dog"], term_buckets=tbs
    )
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    lines = plan.splitlines()
    base_idx = _base_scan_lines(lines)
    assert base_idx, plan
    for bi in base_idx:
        # (b) the scan itself prunes partitions on tb
        assert "PartitionFilters" in lines[bi] and "tb" in lines[bi], (
            lines[bi]
        )
        assert "PartitionFilters: []" not in lines[bi], lines[bi]
        # (a) no Exchange among its ancestors
        j, cur = bi - 1, _node_offset(lines[bi])
        while j >= 0:
            o = _node_offset(lines[j])
            if o < cur:
                assert "Exchange" not in lines[j], (
                    f"base scan rides an Exchange:\n{lines[j]}\n\n{plan}"
                )
                cur = o
            j -= 1


def test_bounded_read_keeps_the_plan_pins(spark, store):
    """The r12 epoch bound (``up_to_batch=``) only changes WHICH log
    dirs are read — the resolution plan keeps both pins: base scan under
    no Exchange, partition filter present."""
    _append(_batch_df(spark, [(6, "lazy spark doc", 10)]), store, 0)
    _append(_batch_df(spark, [(7, "lazy cat doc", 10)]), store, 2)
    tbs = LX.term_bucket_of(spark, ["lazy"], 8)
    resolved = LX.read_postings(
        spark, store, terms=["lazy"], term_buckets=tbs, up_to_batch=1
    )
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan  # batch 0 still resolves via the log
    lines = plan.splitlines()
    base_idx = _base_scan_lines(lines)
    assert base_idx, plan
    for bi in base_idx:
        assert "PartitionFilters" in lines[bi] and "tb" in lines[bi]
        assert "PartitionFilters: []" not in lines[bi], lines[bi]
        j, cur = bi - 1, _node_offset(lines[bi])
        while j >= 0:
            o = _node_offset(lines[j])
            if o < cur:
                assert "Exchange" not in lines[j], (
                    f"base scan rides an Exchange:\n{lines[j]}\n\n{plan}"
                )
                cur = o
            j -= 1
    # and the bound is effective: batch 2's doc is absent at epoch 1
    docs = {
        int(r["doc_id"])
        for r in LX.read_doclens(spark, store, up_to_batch=1).collect()
    }
    assert 7 not in docs
    assert 7 in {
        int(r["doc_id"]) for r in LX.read_doclens(spark, store).collect()
    }


def test_empty_query_terms_returns_empty(spark, store):
    q = spark.createDataFrame([(1, "   ")], ["query_id", "query_text"])
    assert LX.bm25_topk_stored(spark, store, q).count() == 0


def test_maintain_corpus_serves_stored_bm25(spark, tmp_path):
    """The composed ingest with ``postings_store=True`` +
    ``compact_postings_every=2``: after insert / update+delete / revive
    micro-batches (a fold landing mid-stream), the stored BM25 tier is
    relation-equal to the one-shot over the docs store's own resolved
    corpus — two maintained stores pinned against each other AND against
    the from-scratch build."""
    from vector_search_question_answer_api_spark.streaming import (
        ingest_stream as IG,
    )

    tmp = str(tmp_path)
    words = [
        "lazy", "dog", "quick", "cat", "spark", "fox", "brown", "sleeps",
    ]

    def _rows(ids, version, delete=False):
        out = []
        for i in ids:
            text = (
                None
                if delete
                else " ".join(
                    words[(i + j + 3 * version) % len(words)]
                    for j in range(4 + (i % 3))
                )
            )
            out.append(
                (
                    int(i),
                    int(1000 * version + i),
                    text,
                    None if delete else len(text),
                    bool(delete),
                )
            )
        return spark.createDataFrame(
            out, "doc_id long, ts long, text string, n_chars int, _delete boolean"
        ).select(
            "doc_id",
            F.timestamp_millis(F.col("ts")).alias("ts"),
            "text",
            "n_chars",
            "_delete",
        )

    b0 = _rows(range(20), 0)
    b1 = _rows(range(5), 1).unionByName(_rows([15, 16, 17, 18], 1, True))
    b2 = _rows([21, 22], 2).unionByName(_rows([15], 2))
    for name, b in (("b0", b0), ("b1", b1), ("b2", b2)):
        b.coalesce(1).write.parquet(f"{tmp}/src/{name}")
    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    root = f"{tmp}/corpus"
    q = IG.maintain_corpus(
        stream,
        root,
        checkpoint=f"{tmp}/ckpt",
        dim=16,
        n_cells=4,
        trigger_once=True,
        docs_store=True,
        postings_store=True,
        postings_buckets=8,
        compact_postings_every=2,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"

    # the fold landed (batch 2's start folded batches 0-1)
    ppath = IG.corpus_postings_path(root)
    assert os.path.isfile(os.path.join(ppath, LX._PG_MANIFEST))
    resolved_docs = IG.read_corpus_docs(spark, root)
    live = {int(r["doc_id"]) for r in resolved_docs.select("doc_id").collect()}
    assert live == (set(range(20)) - {16, 17, 18}) | {21, 22}
    assert {
        int(r["doc_id"])
        for r in LX.read_doclens(spark, ppath).select("doc_id").collect()
    } == live
    queries = spark.createDataFrame(
        [(1, "lazy dog"), (2, "quick spark"), (3, "cat")],
        ["query_id", "query_text"],
    )
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, ppath, queries, k=4),
        bm25_topk(resolved_docs, queries, k=4),
    )


def test_recommended_postings_compaction_every_delegates_and_caps():
    """r12: the lexical store's cadence rule shares the signature
    store's N* = sqrt(2C/(r*m)) cost model (delegation pinned), and at
    the MEASURED constants — fold C~2.2 s, marginal premium at its
    noise ceiling m<=0.01 (the sweep's finding: the true premium is
    below cross-pass run noise, measurements/r12_postings_log_depth
    .json) — the recommendation stays generous, because serving barely
    pays for depth on this geometry."""
    from vector_search_question_answer_api_spark.operators.ann import (
        recommended_lsh_compaction_every,
    )

    # delegation: identical outputs at identical inputs
    for args in ((1, 2.175, 0.01), (10, 2.175, 0.01), (0, 2.175, 0.01)):
        assert LX.recommended_postings_compaction_every(
            *args
        ) == recommended_lsh_compaction_every(*args)
    # the measured point: one read per batch at the noise-ceiling m
    assert LX.recommended_postings_compaction_every(1, 2.175, 0.01) == 21
    # below-noise premium -> the rule treats m<=0 as "fold rarely"
    assert LX.recommended_postings_compaction_every(1, 2.175, 0.0) == 256


def test_same_batch_delete_then_readd_resolves_to_the_readd(spark, store):
    """The cross-store event-time rule (r12 fix — caught by the
    randomized prefix-replay test): a tombstone beats live rows up to
    and INCLUDING its ts, but a strictly newer upsert in the SAME batch
    revives the doc, exactly as the index/docs/lsh stores resolve it.
    Pre-fix, the store deleted the doc regardless of ts order."""
    q = _queries_df(spark)
    docs = dict(DOCS_V0)
    _append(
        _batch_df(
            spark,
            [
                (0, None, 10),                      # delete at t10 ...
                (0, "revived lazy spark dog", 20),  # ... re-add at t20
                (1, "stale version", 30),
                (1, None, 40),                      # delete wins: newer
            ],
        ),
        store,
        1,
    )
    docs[0] = "revived lazy spark dog"
    del docs[1]
    _assert_equal_rankings(
        LX.bm25_topk_stored(spark, store, q, k=4),
        bm25_topk(_docs_df(spark, docs), q, k=4),
    )
    # the batch dir states one unambiguous outcome per doc: a live dl
    # row for the revived doc, a single NULL marker for the deleted one
    rows = spark.read.parquet(
        os.path.join(store, LX._DL_LOG, "batch=1")
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(int(r["doc_id"]), []).append(r["dl"])
    assert by_doc[0] != [None] and None not in by_doc[0]
    assert by_doc[1] == [None]
