"""Cross-store snapshot consistency (r12): corpus commit markers,
epoch-bounded store reads, and hybrid retrieval served from the
maintained postings + index (+ LSH) stores at one committed epoch.

The torn-read scenario these pin: ``maintain_corpus`` writes its stores
sequentially per micro-batch, so a reader spanning two stores mid-batch
can see postings that already carry batch N while the index log does
not.  The commit marker (written LAST) plus the stores' ``up_to_batch=``
bounds make the multi-store read snapshot-consistent."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark import caching
from vector_search_question_answer_api_spark.operators import (
    ann,
    hybrid_store as HS,
    lexical_store as LXS,
)
from vector_search_question_answer_api_spark.operators.index_build import (
    build_index,
)
from vector_search_question_answer_api_spark.operators.keyword_search import (
    bm25_topk,
    rrf_fuse,
)
from vector_search_question_answer_api_spark.operators.search import (
    knn_exact_expr,
)
from vector_search_question_answer_api_spark.sources.tables import load_table
from vector_search_question_answer_api_spark.streaming import (
    ingest_stream as IG,
)

DIM, N_CELLS = 64, 8
SF = "/root/testdata/sf0.001"
POOL, K = 10, 5


@pytest.fixture(scope="module")
def consistent(spark, tmp_path_factory):
    """Three-batch maintain_corpus with docs + postings + lsh stores:
    batch 0 inserts ids 0-39; batch 1 adds 40-59 and UPDATES 0-7;
    batch 2 updates 4-11 and DELETES 0-1.  Yields (root, artifact,
    {epoch: expected live docs relation}) with expectations derived from
    the SOURCE batches, independent of any store."""
    tmp = tmp_path_factory.mktemp("consistent")
    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    b0 = docs.filter("doc_id < 40")
    upd1 = (
        docs.filter("doc_id < 8")
        .withColumn("text", F.concat(F.lit("update one "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    b1 = docs.filter("doc_id >= 40 AND doc_id < 60").unionByName(upd1)
    upd2 = (
        docs.filter("doc_id >= 4 AND doc_id < 12")
        .withColumn("text", F.concat(F.lit("update two "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
    )
    dels = docs.filter("doc_id IN (0, 1)").select(
        "doc_id",
        F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    b2 = upd2.unionByName(dels)
    for i, b in enumerate((b0, b1, b2)):
        b.coalesce(1).write.parquet(f"{tmp}/src/b{i}")
    center = ann.corpus_center(build_index(b0.drop("_delete")))
    art = {
        "family": ann.LSH_FAMILY,
        "dim": DIM,
        "n_planes": ann.DEFAULT_N_PLANES,
        "n_tables": ann.DEFAULT_N_TABLES,
        "center": center,
    }
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    q = IG.maintain_corpus(
        stream,
        str(tmp / "corpus"),
        checkpoint=str(tmp / "ckpt"),
        dim=DIM,
        n_cells=N_CELLS,
        trigger_once=True,
        lsh_artifact=art,
        docs_store=True,
        postings_store=True,
        postings_buckets=8,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"
    expected = {
        0: b0.drop("_delete"),
        1: docs.filter("doc_id >= 8 AND doc_id < 60")
        .unionByName(upd1)
        .drop("_delete"),
        2: docs.filter("doc_id >= 12 AND doc_id < 60")
        .unionByName(upd1.filter("doc_id IN (2, 3)"))
        .unionByName(upd2)
        .drop("_delete"),
    }
    return str(tmp / "corpus"), art, expected


def _queries(spark, root, ids=(5, 20, 45)):
    """External query batch: text + (already normalized) vector, taken
    from the final corpus state so every tier has matching candidates."""
    idx = IG.read_corpus_index(spark, root)
    docs = IG.read_corpus_docs(spark, root)
    return (
        docs.filter(F.col("doc_id").isin(*ids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
        )
        .join(
            idx.select(
                F.col("doc_id").alias("query_id"),
                F.col("norm_embedding").alias("qvec"),
            ),
            "query_id",
        )
    )


def _rel(df):
    return sorted(
        (
            int(r["query_id"]),
            int(r["doc_id"]),
            round(float(r["rrf_score"]), 9),
            int(r["rank"]),
        )
        for r in df.collect()
    )


def _rel_knn(df):
    return sorted(
        (
            int(r["query_id"]),
            int(r["doc_id"]),
            round(float(r["distance"]), 9),
            int(r["rank"]),
        )
        for r in df.collect()
    )


def test_committed_epoch_and_markers(spark, consistent):
    root, _art, _exp = consistent
    assert IG.corpus_committed_epoch(root) == 2
    files = sorted(glob.glob(os.path.join(root, "commits", "batch-*.json")))
    assert len(files) == 3
    with open(files[0], encoding="utf-8") as f:
        m = json.load(f)
    assert m["batch"] == 0
    assert {"index", "docs", "postings", "lsh"} <= set(m["stores"])


def test_docs_store_resolves_each_epoch_exactly(spark, consistent):
    root, _art, expected = consistent

    def rows(df):
        return sorted(
            (int(r["doc_id"]), r["text"])
            for r in df.select("doc_id", "text").collect()
        )

    for e, want in expected.items():
        got = IG.read_corpus_docs(spark, root, up_to_batch=e)
        assert rows(got) == rows(want), f"epoch {e}"
    with pytest.raises(ValueError, match="not.*both|both"):
        IG.read_corpus_docs(spark, root, before_batch=1, up_to_batch=1)


def test_hybrid_stored_matches_oneshot_at_every_epoch(spark, consistent):
    """The headline pin: at EVERY committed epoch, hybrid serving from
    the maintained stores equals the one-shot hybrid (corpus-tokenizing
    bm25 + from-scratch index build + the same rrf_fuse) over the
    source-derived corpus state at that epoch."""
    root, _art, expected = consistent
    q = _queries(spark, root)
    for e, docs_e in expected.items():
        idx_oneshot = build_index(docs_e)
        oneshot = rrf_fuse(
            [
                bm25_topk(
                    docs_e, q.select("query_id", "query_text"), k=POOL
                ).select("query_id", "doc_id", "rank"),
                knn_exact_expr(
                    q.select("query_id", "qvec"), idx_oneshot, k=POOL
                ).select("query_id", "doc_id", "rank"),
            ],
            k=K,
        )
        got = HS.hybrid_search_stored(
            spark, root, q, k=K, pool=POOL, epoch=e
        )
        assert _rel(got) == _rel(oneshot) and _rel(got), f"epoch {e}"
    # the COMMITTED sentinel resolves to the newest marker
    sent = HS.hybrid_search_stored(spark, root, q, k=K, pool=POOL)
    last = HS.hybrid_search_stored(spark, root, q, k=K, pool=POOL, epoch=2)
    assert _rel(sent) == _rel(last)


def test_hybrid_lsh_tier_serves_epochs_from_stored_signatures(
    spark, consistent
):
    """The stored-LSH dense tier at a historical epoch equals the
    in-memory LSH over the same epoch-bounded index (same artifact, so
    bit-identical signatures); the fused stored hybrid equals the
    one-shot lsh hybrid at the committed epoch."""
    root, art, expected = consistent
    q = _queries(spark, root)
    for e in (1, 2):
        idx_e = IG.read_corpus_index(spark, root, up_to_batch=e)
        stored = ann.ann_lsh_topk_ondisk(
            spark,
            q.select("query_id", "qvec"),
            IG.corpus_lsh_path(root),
            idx_e,
            k=POOL,
            up_to_batch=e,
        )
        mem = ann.ann_lsh_topk(
            q.select("query_id", "qvec"), idx_e, k=POOL, artifact=art
        )
        assert _rel_knn(stored) == _rel_knn(mem) and _rel_knn(stored), (
            f"epoch {e}"
        )
    fused = HS.hybrid_search_stored(
        spark, root, q, k=K, pool=POOL, dense="lsh"
    )
    idx2 = IG.read_corpus_index(spark, root, up_to_batch=2)
    oneshot = rrf_fuse(
        [
            bm25_topk(
                expected[2], q.select("query_id", "query_text"), k=POOL
            ).select("query_id", "doc_id", "rank"),
            ann.ann_lsh_topk(
                q.select("query_id", "qvec"), idx2, k=POOL, artifact=art
            ).select("query_id", "doc_id", "rank"),
        ],
        k=K,
    )
    assert _rel(fused) == _rel(oneshot) and _rel(fused)


def test_bounded_reads_below_horizon_raise(spark, consistent, tmp_path):
    """Compaction folds away per-batch provenance: a bound below the
    horizon RAISES (never silently serves folded rows as historical);
    a bound AT the horizon still resolves exactly."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
    )
    # postings store built purely from appends, then folded
    p = str(tmp_path / "post")
    for b in range(3):
        LXS.append_postings_batch(
            docs.filter(f"doc_id >= {b * 10} AND doc_id < {(b + 1) * 10}"),
            p,
            b,
            n_buckets=4,
        )
    want = sorted(
        (int(r["doc_id"]), int(r["dl"]))
        for r in LXS.read_doclens(spark, p).collect()
    )
    assert LXS.compact_postings(spark, p)
    with pytest.raises(ValueError, match="compaction horizon"):
        LXS.read_doclens(spark, p, up_to_batch=1)
    got = sorted(
        (int(r["doc_id"]), int(r["dl"]))
        for r in LXS.read_doclens(spark, p, up_to_batch=2).collect()
    )
    assert got == want
    # lsh store: same discipline
    lp = str(tmp_path / "lsh")
    idx = build_index(docs.filter("doc_id < 30"))
    n = idx.count()
    art = {
        "family": ann.LSH_FAMILY,
        "dim": DIM,
        "n_planes": ann.recommended_n_planes(n),
        "n_tables": ann.DEFAULT_N_TABLES,
        "center": None,
    }
    for b in range(3):
        ann.append_lsh_signatures_batch(
            idx.filter(f"doc_id >= {b * 10} AND doc_id < {(b + 1) * 10}"),
            lp,
            b,
            art,
        )
    want_sig = sorted(
        (int(r["doc_id"]), str(r["sig"]))
        for r in ann.read_lsh_signatures(spark, lp).collect()
    )
    assert ann.compact_lsh_signatures(spark, lp)
    with pytest.raises(ValueError, match="compaction horizon"):
        ann.read_lsh_signatures(spark, lp, up_to_batch=0)
    got_sig = sorted(
        (int(r["doc_id"]), str(r["sig"]))
        for r in ann.read_lsh_signatures(spark, lp, up_to_batch=2).collect()
    )
    assert got_sig == want_sig


def test_marker_write_is_idempotent(spark, tmp_path):
    root = str(tmp_path)
    assert IG.corpus_committed_epoch(root) is None
    commits = os.path.join(root, "commits")
    IG._write_commit_marker(commits, 5, ["index"])
    IG._write_commit_marker(commits, 5, ["index", "docs"])  # replay
    files = glob.glob(os.path.join(commits, "batch-*.json"))
    assert len(files) == 1
    with open(files[0], encoding="utf-8") as f:
        assert json.load(f)["stores"] == ["docs", "index"]
    assert IG.corpus_committed_epoch(root) == 5


def test_torn_batch_invisible_at_committed_epoch(spark, consistent):
    """Simulate the mid-handler crash window: an in-flight batch 3 lands
    in the postings AND lsh stores but not the index log, and no commit
    marker exists.  The committed-epoch hybrid read is unchanged; the
    unbounded live view visibly tears (the new doc ranks in the sparse
    tier while the dense tier has never seen it).  LAST in this file:
    the torn dirs are removed again in the cleanup."""
    root, art, _exp = consistent
    q = _queries(spark, root)
    before = _rel(HS.hybrid_search_stored(spark, root, q, k=K, pool=POOL))
    ppath = IG.corpus_postings_path(root)
    lpath = IG.corpus_lsh_path(root)
    qtext = q.filter("query_id = 5").select("query_text").first()[0]
    newdoc = spark.createDataFrame(
        [(900, qtext)], "doc_id long, text string"
    ).select(
        "doc_id",
        F.timestamp_millis(F.lit(30_000_000)).alias("ts"),
        "text",
        F.length("text").alias("n_chars"),
    )
    try:
        LXS.append_postings_batch(newdoc, ppath, 3, n_buckets=8)
        ann.append_lsh_signatures_batch(build_index(newdoc), lpath, 3, art)
        assert IG.corpus_committed_epoch(root) == 2  # no marker: not committed
        after = _rel(
            HS.hybrid_search_stored(spark, root, q, k=K, pool=POOL)
        )
        assert after == before
        # the tear is real: the unbounded live view sees the torn batch
        live_docs = {
            int(r["doc_id"])
            for r in LXS.read_doclens(spark, ppath).collect()
        }
        assert 900 in live_docs
        bounded_docs = {
            int(r["doc_id"])
            for r in LXS.read_doclens(spark, ppath, up_to_batch=2).collect()
        }
        assert 900 not in bounded_docs
        live = _rel(
            HS.hybrid_search_stored(
                spark, root, q, k=K, pool=POOL, epoch=None
            )
        )
        assert live != before
    finally:
        for d in (
            os.path.join(ppath, "postings_log", "batch=3"),
            os.path.join(ppath, "doclens_log", "batch=3"),
            os.path.join(lpath, "signatures_log", "batch=3"),
        ):
            shutil.rmtree(d, ignore_errors=True)


def test_bounded_reads_equal_prefix_replay_on_random_sequences(
    spark, tmp_path
):
    """Property pin for the epoch bound, beyond the hand-built fixture:
    for seeded-random upsert/delete batch sequences over a small doc-id
    domain, the POSTINGS store's bounded serving at every prefix B
    equals the one-shot BM25 over the state obtained by applying the
    first B+1 batches — updates, deletes, revivals, and same-batch
    upsert+delete ties included."""
    import random

    from vector_search_question_answer_api_spark.operators.keyword_search import (
        bm25_topk,
    )

    rng = random.Random(12012)
    words = ["lazy", "dog", "quick", "cat", "spark", "fox", "join", "scan"]
    queries = spark.createDataFrame(
        [(100, "lazy dog"), (101, "quick spark scan")],
        ["query_id", "query_text"],
    )

    def rel(df):
        return sorted(
            (int(r["query_id"]), int(r["doc_id"]),
             round(float(r["score"]), 6), int(r["rank"]))
            for r in df.collect()
        )

    for seq in range(2):
        path = str(tmp_path / f"seq{seq}")
        state: dict[int, str] = {}
        states = []
        for b in range(4):
            rows = []
            batch_state: dict[int, tuple] = {}
            for _ in range(rng.randint(2, 5)):
                doc = rng.randrange(6)
                ts = rng.randrange(1, 1000)
                if rng.random() < 0.3:
                    batch_state[doc] = max(
                        batch_state.get(doc, (0, "")), (ts, None)
                    )
                    rows.append((doc, None, ts))
                else:
                    text = " ".join(
                        rng.choice(words) for _ in range(rng.randint(3, 7))
                    )
                    batch_state[doc] = max(
                        batch_state.get(doc, (0, "")), (ts, text)
                    )
                    rows.append((doc, text, ts))
            # apply intra-batch resolution: latest ts wins; a same-(ts)
            # upsert+delete tie resolves deleted — mirror the store's
            # rule by preferring None on ties
            for doc, (ts, text) in batch_state.items():
                tied = [r for r in rows if r[0] == doc and r[2] == ts]
                if any(r[1] is None for r in tied):
                    text = None
                if text is None:
                    state.pop(doc, None)
                else:
                    state[doc] = text
            df = spark.createDataFrame(
                rows, "doc_id long, text string, ts long"
            ).withColumn("_tomb", F.col("text").isNull())
            LXS.append_postings_batch(
                df, path, b, n_buckets=4, tomb_col="_tomb"
            )
            states.append(dict(state))
        for b, snap in enumerate(states):
            got = rel(
                LXS.bm25_topk_stored(
                    spark, path, queries, k=4, up_to_batch=b
                )
            )
            if not snap:
                assert got == []
                continue
            docs_df = spark.createDataFrame(
                sorted(snap.items()), ["doc_id", "text"]
            )
            want = rel(bm25_topk(docs_df, queries, k=4))
            assert got == want, f"seq {seq} prefix {b}"


def test_index_bound_below_fold_horizon_raises(spark, tmp_path):
    """r12 review fix: the epoch-bounded INDEX read gets the same
    compaction-horizon discipline as the postings/LSH stores — a fold
    keeps only each doc's latest row, so a bound below the highest
    folded batch raises instead of silently resolving superseded
    versions as absent."""
    from vector_search_question_answer_api_spark.streaming import (
        index_stream as IX,
    )

    root = str(tmp_path)
    path = os.path.join(root, "index")
    dim = 8

    def _b(doc_specs, batch):
        rows = [
            (d, d, [float(v)] * dim, 1.0, ts_ms) for d, v, ts_ms in doc_specs
        ]
        df = spark.createDataFrame(
            rows,
            "vec_id long, doc_id long, norm_embedding array<float>, "
            "norm double, ts long",
        ).select(
            F.timestamp_millis(F.col("ts")).alias("ts"),
            "vec_id", "doc_id", "norm_embedding", "norm",
        )
        df.withColumn("_batch", F.lit(batch)).write.mode("append").parquet(
            os.path.join(path, "log")
        )

    _b([(0, 1, 1000), (1, 1, 1001)], 0)
    _b([(0, 2, 2000)], 1)  # doc 0 updated in batch 1

    def vals(df):
        return sorted(
            (int(r["doc_id"]), round(float(r["norm_embedding"][0]), 6))
            for r in df.collect()
        )

    at0 = vals(IG.read_corpus_index(spark, root, up_to_batch=0))
    at1 = vals(IG.read_corpus_index(spark, root, up_to_batch=1))
    assert at0 == [(0, 1.0), (1, 1.0)]
    assert at1 == [(0, 2.0), (1, 1.0)]
    IX.compact_index(spark, path)
    # at/above the horizon: still exact (folded winners keep _batch)
    assert vals(IG.read_corpus_index(spark, root, up_to_batch=1)) == at1
    assert vals(IG.read_corpus_index(spark, root)) == at1
    # below it: doc 0's batch-0 version is physically gone — raise
    with pytest.raises(ValueError, match="compaction horizon"):
        IG.read_corpus_index(spark, root, up_to_batch=0)


def test_epoch_above_committed_frontier_raises(spark, consistent):
    """r12 review fix: an int epoch above the committed frontier would
    bound each store independently and could include a torn in-flight
    batch on one side only — resolve_epoch rejects it."""
    root, _art, _exp = consistent
    q = _queries(spark, root)
    before = len(caching._live_caches)
    with pytest.raises(ValueError, match="not committed"):
        HS.hybrid_search_stored(spark, root, q, k=K, pool=POOL, epoch=5)
    # a refused epoch persists nothing (the query batch's tracked persist
    # comes after the epoch check) ...
    assert len(caching._live_caches) == before
    # ... and a served call's persists are released by the caller's scope
    with caching.cache_scope():
        assert HS.hybrid_search_stored(spark, root, q, k=K, pool=POOL).collect()
    assert len(caching._live_caches) == before
    with pytest.raises(ValueError, match="not committed"):
        HS.resolve_epoch(root + "_nowhere", 0)  # no markers at all


def test_corpus_status_reports_every_store(spark, consistent):
    """The ops surface: one driver-side call (no Spark jobs) reporting
    epochs, log depths, generations, and horizons for every store."""
    root, _art, _exp = consistent
    st = IG.corpus_status(root)
    assert st["committed_epoch"] == 2 and st["commit_markers"] == 3
    s = st["stores"]
    assert s["index"]["present"] and s["index"]["log_files"] >= 3
    assert s["index"]["horizon"] is None  # never compacted in the fixture
    assert s["docs"]["present"] and s["docs"]["batch_dirs"] == 3
    assert s["docs"]["purged_below"] is None
    assert s["postings"]["present"] and s["postings"]["log_batches"] == 3
    assert s["postings"]["horizon"] is None
    assert s["lsh"]["present"] and s["lsh"]["log_batches"] == 3
    assert s["lsh"]["n_tables"] >= 1
    assert s["profile"]["present"] and s["profile"]["batch_dirs"] > 0
    assert s["spans"]["present"]
    assert not s["codes"]["present"] and not s["graphs"]["present"]


def test_corpus_status_after_compaction(spark, consistent, tmp_path):
    """corpus_status over FOLDED stores: each generation carries its
    store's prefix, the horizon is the folded batch, and the log depths
    drop.  Folds a copy of the fixture root, so the shared fixture stays
    never-compacted."""
    from vector_search_question_answer_api_spark.streaming import (
        index_stream as IX,
    )

    src, _art, _exp = consistent
    root = str(tmp_path / "root")
    shutil.copytree(src, root)
    before = IG.corpus_status(root)["stores"]
    IX.compact_index(spark, os.path.join(root, "index"))
    assert LXS.compact_postings(spark, IG.corpus_postings_path(root))
    assert ann.compact_lsh_signatures(spark, IG.corpus_lsh_path(root))
    s = IG.corpus_status(root)["stores"]
    for name, prefix in (
        ("index", ".gen-"), ("postings", ".pgen-"), ("lsh", ".sig-gen-"),
    ):
        assert s[name]["generation"].startswith(prefix), s[name]
        assert s[name]["horizon"] == 2, s[name]  # the last folded batch
    assert before["index"]["log_files"] >= 3 and s["index"]["log_files"] == 0
    assert before["postings"]["log_batches"] == 3
    assert s["postings"]["log_batches"] == 0
    assert before["lsh"]["log_batches"] == 3 and s["lsh"]["log_batches"] == 0


# --------------------------------------------------------------- r13:
# the managed ANN artifacts join the consistency surface (VERDICT r12
# What's missing #2): the cell stores stamp their manifests with the
# batch they absorb; bounded readers serve epoch-exactly or RAISE.


@pytest.fixture(scope="module")
def managed_epoch(spark, tmp_path_factory):
    """Three-batch maintain_corpus with the MANAGED ANN artifacts on
    (codes + graphs + radii) plus postings for the hybrid sparse side —
    same batch script as the ``consistent`` fixture (inserts, updates,
    deletions)."""
    from vector_search_question_answer_api_spark.operators.ivf import (
        centroid_grid,
    )
    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
    )

    tmp = tmp_path_factory.mktemp("managed_epoch")
    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    b0 = docs.filter("doc_id < 40")
    upd1 = (
        docs.filter("doc_id < 8")
        .withColumn("text", F.concat(F.lit("update one "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    b1 = docs.filter("doc_id >= 40 AND doc_id < 60").unionByName(upd1)
    dels = docs.filter("doc_id IN (0, 1)").select(
        "doc_id",
        F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    b2 = (
        docs.filter("doc_id >= 4 AND doc_id < 12")
        .withColumn("text", F.concat(F.lit("update two "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
        .unionByName(dels)
    )
    for i, b in enumerate((b0, b1, b2)):
        b.coalesce(1).write.parquet(f"{tmp}/src/b{i}")
    cents = centroid_grid(DIM, N_CELLS)
    cbs = codebook_grid(DIM, 8, 16)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    q = IG.maintain_corpus(
        stream,
        str(tmp / "corpus"),
        checkpoint=str(tmp / "ckpt"),
        codebooks=cbs,
        ann_graphs=True,
        centroids=cents,
        dim=DIM,
        n_cells=N_CELLS,
        trigger_once=True,
        docs_store=True,
        postings_store=True,
        postings_buckets=8,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"
    return str(tmp / "corpus"), cents, cbs


def _graph_rel(spark, graphs, q, cents, n):
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    df = ann_hnsw.celled_hnsw_topk_cogrouped(
        graphs,
        q.select("query_id", "qvec"),
        centroids=cents,
        k=5,
        ef=int(n) + 8,
        dim=DIM,
        n_cells=N_CELLS,
        nprobe=N_CELLS,
    )
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]),
         round(float(r["distance"]), 9))
        for r in df.collect()
    )


def test_managed_graph_store_epoch_exact_serve_and_below_raise(
    spark, managed_epoch
):
    """Epoch-exact pin: managed graph serving bounded at the committed
    epoch EQUALS a from-scratch rebuild over the corpus at that epoch
    (through three batches of inserts/updates/DELETIONS, i.e. the r13
    incremental mark-insert path under the real stream); a bound below
    the store's last-change batch RAISES — in-place maintenance keeps
    only the newest state, loud, never a silently mixed epoch."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    root, cents, _cbs = managed_epoch
    e = IG.corpus_committed_epoch(root)
    assert e == 2
    q = _queries(spark, root)
    idx = IG.read_corpus_index(spark, root, up_to_batch=e)
    n = idx.count()
    served = _graph_rel(
        spark,
        ann_hnsw.read_celled_hnsw_index(
            spark, IG.corpus_graphs_path(root), up_to_batch=e
        ),
        q, cents, n,
    )
    rebuilt = _graph_rel(
        spark,
        ann_hnsw.build_celled_hnsw(
            idx, centroids=cents, dim=DIM, n_cells=N_CELLS
        ),
        q, cents, n,
    )
    assert served == rebuilt and served
    # deleted docs are not served
    assert not [r for r in served if r[2] in (0, 1)]
    for below in (0, 1):
        with pytest.raises(ValueError, match="below the store's retained horizon"):
            ann_hnsw.read_celled_hnsw_index(
                spark, IG.corpus_graphs_path(root), up_to_batch=below
            )


def test_hybrid_graph_serve_evaluates_queries_once_and_reads_no_dead_store(
    spark, managed_epoch, monkeypatch
):
    """Serve-path pin: one ``dense="graph"`` hybrid call evaluates its
    query batch ONCE however many consumers read it (a Python UDF in the
    query plan bumps an accumulator per row), never reads the index store
    (the graph tier does not use it), and reads the doclens log once (the
    census ``bm25_topk_stored`` shares with its readers)."""
    from pyspark.sql.readwriter import DataFrameReader

    root, cents, _cbs = managed_epoch
    qdf = _queries(spark, root)
    qvec_t = qdf.schema["qvec"].dataType.simpleString()
    rows = {
        int(r["query_id"]): (r["query_text"], list(r["qvec"]))
        for r in qdf.collect()
    }
    evals = spark.sparkContext.accumulator(0)

    def fetch(qid):
        evals.add(1)
        return rows[qid]

    fetch_udf = F.udf(fetch, f"query_text string, qvec {qvec_t}")
    q = (
        spark.createDataFrame([(i,) for i in rows], "query_id long")
        .select("query_id", fetch_udf("query_id").alias("_q"))
        .select("query_id", "_q.query_text", "_q.qvec")
    )

    index_reads, parquet_reads = [], []
    monkeypatch.setattr(
        IG, "read_corpus_index", lambda *a, **kw: index_reads.append(a)
    )
    real_parquet = DataFrameReader.parquet

    def spy_parquet(self, *paths, **kw):
        parquet_reads.append(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
    got = HS.hybrid_search_stored(
        spark, root, q, k=K, pool=POOL, dense="graph", centroids=cents,
        dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
    ).collect()
    assert {r["query_id"] for r in got} == set(rows)
    assert index_reads == []
    dl_log_reads = [
        paths for paths in parquet_reads
        if any(f"{os.sep}doclens_log{os.sep}" in p for p in paths)
    ]
    assert len(dl_log_reads) == 1
    assert evals.value == len(rows)


def test_managed_codes_store_epoch_exact_serve_and_below_raise(
    spark, managed_epoch
):
    from vector_search_question_answer_api_spark.operators.pq import (
        ivfpq_topk, ivfpq_topk_ondisk,
    )

    root, cents, cbs = managed_epoch
    e = IG.corpus_committed_epoch(root)
    q = _queries(spark, root).select("query_id", "qvec")
    idx = IG.read_corpus_index(spark, root, up_to_batch=e)

    def rel(df):
        return sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]),
             round(float(r["distance"]), 9))
            for r in df.collect()
        )

    served = rel(
        ivfpq_topk_ondisk(
            spark, q, IG.corpus_codes_path(root), idx, cbs,
            centroids=cents, k=5, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, refine=8, up_to_batch=e,
        )
    )
    oneshot = rel(
        ivfpq_topk(
            q, idx, cbs, centroids=cents, k=5, dim=DIM,
            n_cells=N_CELLS, nprobe=N_CELLS, refine=8,
        )
    )
    assert served == oneshot and served
    with pytest.raises(ValueError, match="below the store's retained horizon"):
        ivfpq_topk_ondisk(
            spark, q, IG.corpus_codes_path(root), idx, cbs,
            centroids=cents, k=5, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, refine=8, up_to_batch=1,
        )


def test_hybrid_graph_and_ivfpq_tiers_serve_committed_epoch(
    spark, managed_epoch
):
    """The composition the r12 verdict called out as silently mixing
    epochs when composed by hand: hybrid with the managed graph/ivfpq
    dense tiers.  At the committed epoch, each equals the same fusion
    built from one-shot tiers over the resolved corpus; on a store that
    has MOVED PAST the committed epoch (an in-flight batch refreshed the
    graphs, marker not yet written), the composition RAISES."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.pq import ivfpq_topk

    root, cents, cbs = managed_epoch
    e = IG.corpus_committed_epoch(root)
    q = _queries(spark, root)
    idx = IG.read_corpus_index(spark, root, up_to_batch=e)
    n = idx.count()

    got_graph = _rel(
        HS.hybrid_search_stored(
            spark, root, q, k=K, pool=POOL, dense="graph",
            centroids=cents, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, ef=int(n) + 8,
        )
    )
    sparse = LXS.bm25_topk_stored(
        spark, IG.corpus_postings_path(root),
        q.select("query_id", "query_text"), k=POOL, up_to_batch=e,
    )
    oneshot_graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=DIM, n_cells=N_CELLS
    )
    dense_graph = ann_hnsw.celled_hnsw_topk_cogrouped(
        oneshot_graphs, q.select("query_id", "qvec"), centroids=cents,
        k=POOL, ef=int(n) + 8, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
    )
    want_graph = _rel(
        rrf_fuse(
            [
                sparse.select("query_id", "doc_id", "rank"),
                dense_graph.select("query_id", "doc_id", "rank"),
            ],
            k=K,
        )
    )
    assert got_graph == want_graph and got_graph

    got_pq = _rel(
        HS.hybrid_search_stored(
            spark, root, q, k=K, pool=POOL, dense="ivfpq",
            centroids=cents, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, codebooks=cbs,
        )
    )
    dense_pq = ivfpq_topk(
        q.select("query_id", "qvec"), idx, cbs, centroids=cents,
        k=POOL, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
    )
    want_pq = _rel(
        rrf_fuse(
            [
                sparse.select("query_id", "doc_id", "rank"),
                dense_pq.select("query_id", "doc_id", "rank"),
            ],
            k=K,
        )
    )
    assert got_pq == want_pq and got_pq


def test_inflight_managed_refresh_raises_at_committed_epoch(
    spark, managed_epoch, tmp_path
):
    """Torn mid-handler state: the graph store already refreshed for an
    in-flight batch (stamp advanced) but the commit marker has not
    landed — the committed-epoch composition must RAISE, not silently
    serve mixed epochs.  Runs on a COPY of the corpus root."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    root, cents, cbs = managed_epoch
    root2 = str(tmp_path / "corpus_copy")
    shutil.copytree(root, root2)
    e = IG.corpus_committed_epoch(root2)
    idx = IG.read_corpus_index(spark, root2)
    # simulate batch e+1's handler mid-flight: graphs refreshed, no marker
    delta = idx.limit(3).select("doc_id", "norm_embedding")
    ann_hnsw.refresh_celled_hnsw_index(
        spark, IG.corpus_graphs_path(root2), idx, delta,
        centroids=cents, dim=DIM, n_cells=N_CELLS,
        batch_id=e + 1,
    )
    assert IG.corpus_committed_epoch(root2) == e  # marker never written
    q = _queries(spark, root2)
    with pytest.raises(ValueError, match="below the store's retained horizon"):
        HS.hybrid_search_stored(
            spark, root2, q, k=K, pool=POOL, dense="graph",
            centroids=cents, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
        ).collect()


def test_unstamped_store_refuses_epoch_bounds(spark, tmp_path):
    """A store maintained WITHOUT batch ids (or refreshed without one
    after being stamped) is outside the consistency surface — bounded
    reads raise instead of guessing."""
    import numpy as np

    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        centroid_grid,
    )

    cents = centroid_grid(DIM, N_CELLS)
    rng = np.random.RandomState(5)
    pts = rng.standard_normal((60, DIM))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(60)],
        "doc_id long, norm_embedding array<double>",
    )
    path = str(tmp_path / "graphs")
    graphs = ann_hnsw.build_celled_hnsw(
        corpus, centroids=cents, dim=DIM, n_cells=N_CELLS
    )
    # no batch_id at init -> untracked
    ann_hnsw.write_celled_hnsw_index_managed(graphs, path)
    with pytest.raises(ValueError, match="not\\s+epoch-stamped"):
        ann_hnsw.read_celled_hnsw_index(spark, path, up_to_batch=5)
    # stamped init, then a stampless refresh DROPS the stamps
    path2 = str(tmp_path / "graphs2")
    ann_hnsw.write_celled_hnsw_index_managed(
        graphs,
        path2,
        ids=corpus.select(
            "doc_id",
            __import__(
                "vector_search_question_answer_api_spark.operators.ivf",
                fromlist=["assign_cell"],
            ).assign_cell(F.col("norm_embedding"), cents).alias("cell"),
        ),
        batch_id=0,
    )
    ann_hnsw.read_celled_hnsw_index(spark, path2, up_to_batch=0)  # serves
    delta = corpus.limit(2).select("doc_id", "norm_embedding")
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path2, corpus, delta, centroids=cents, dim=DIM,
        n_cells=N_CELLS,
    )
    with pytest.raises(ValueError, match="not\\s+epoch-stamped"):
        ann_hnsw.read_celled_hnsw_index(spark, path2, up_to_batch=0)


# ---------------------------------------------------------------------------
# r14 — bounded time-travel for the managed ANN tiers (VERDICT r13
# missing #1): maintain_corpus(ann_history_keep=K) retains the K most
# recent superseded per-cell snapshots, so the graph/ivfpq tiers serve
# recent committed epochs epoch-exactly instead of raising; only bounds
# below the retained horizon raise.


@pytest.fixture(scope="module")
def managed_epoch_hist(spark, tmp_path_factory):
    """The ``managed_epoch`` batch script (inserts / updates / deletes
    across three batches) with ``ann_history_keep=1``: after the batch-2
    refresh the stores retain the batch-1 snapshot, so epochs {1, 2} are
    servable and epoch 0 is beyond the horizon."""
    from vector_search_question_answer_api_spark.operators.ivf import (
        centroid_grid,
    )
    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
    )

    tmp = tmp_path_factory.mktemp("managed_epoch_hist")
    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    b0 = docs.filter("doc_id < 40")
    upd1 = (
        docs.filter("doc_id < 8")
        .withColumn("text", F.concat(F.lit("update one "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    b1 = docs.filter("doc_id >= 40 AND doc_id < 60").unionByName(upd1)
    dels = docs.filter("doc_id IN (0, 1)").select(
        "doc_id",
        F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    b2 = (
        docs.filter("doc_id >= 4 AND doc_id < 12")
        .withColumn("text", F.concat(F.lit("update two "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
        .unionByName(dels)
    )
    for i, b in enumerate((b0, b1, b2)):
        b.coalesce(1).write.parquet(f"{tmp}/src/b{i}")
    cents = centroid_grid(DIM, N_CELLS)
    cbs = codebook_grid(DIM, 8, 16)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    q = IG.maintain_corpus(
        stream,
        str(tmp / "corpus"),
        checkpoint=str(tmp / "ckpt"),
        codebooks=cbs,
        ann_graphs=True,
        centroids=cents,
        dim=DIM,
        n_cells=N_CELLS,
        trigger_once=True,
        docs_store=True,
        postings_store=True,
        postings_buckets=8,
        ann_history_keep=1,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"
    return str(tmp / "corpus"), cents, cbs


def test_managed_tiers_serve_retained_historical_epoch_exactly(
    spark, managed_epoch_hist
):
    """The r13 verdict's missing #1, closed: managed graph/ivfpq serving
    bounded at a RETAINED historical epoch B equals a from-scratch
    build over the corpus at B — and the raise pin survives for bounds
    beyond the retained window."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.pq import (
        ivfpq_topk, ivfpq_topk_ondisk,
    )

    root, cents, cbs = managed_epoch_hist
    assert IG.corpus_committed_epoch(root) == 2
    q = _queries(spark, root)
    for b in (1, 2):
        idx_b = IG.read_corpus_index(spark, root, up_to_batch=b)
        n = idx_b.count()
        served = _graph_rel(
            spark,
            ann_hnsw.read_celled_hnsw_index(
                spark, IG.corpus_graphs_path(root), up_to_batch=b
            ),
            q, cents, n,
        )
        rebuilt = _graph_rel(
            spark,
            ann_hnsw.build_celled_hnsw(
                idx_b, centroids=cents, dim=DIM, n_cells=N_CELLS,
            ),
            q, cents, n,
        )
        assert served == rebuilt and served, f"graph tier at epoch {b}"

        def rel(df):
            return sorted(
                (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]),
                 round(float(r["distance"]), 9))
                for r in df.collect()
            )

        got_pq = rel(
            ivfpq_topk_ondisk(
                spark, q.select("query_id", "qvec"),
                IG.corpus_codes_path(root), idx_b, cbs, centroids=cents,
                k=5, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS, refine=8,
                up_to_batch=b,
            )
        )
        want_pq = rel(
            ivfpq_topk(
                q.select("query_id", "qvec"), idx_b, cbs, centroids=cents,
                k=5, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS, refine=8,
            )
        )
        assert got_pq == want_pq and got_pq, f"ivfpq tier at epoch {b}"
    # epoch 0 was trimmed out of the 1-deep history: loud raise
    for reader in (
        lambda: ann_hnsw.read_celled_hnsw_index(
            spark, IG.corpus_graphs_path(root), up_to_batch=0
        ),
        lambda: ivfpq_topk_ondisk(
            spark, q.select("query_id", "qvec"),
            IG.corpus_codes_path(root),
            IG.read_corpus_index(spark, root, up_to_batch=0), cbs,
            centroids=cents, k=5, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, refine=8, up_to_batch=0,
        ),
    ):
        with pytest.raises(ValueError, match="retained horizon"):
            reader()


def test_hybrid_historical_epoch_and_inflight_tear_healed_by_history(
    spark, managed_epoch_hist, tmp_path
):
    """(a) ``hybrid_search_stored(dense="graph", epoch=1)`` equals the
    one-shot hybrid built over the corpus at epoch 1 — the historical
    composed read the r13 contract answered with a raise.  (b) The
    in-flight-tear scenario (graphs refreshed for batch e+1, marker not
    written): with a retained snapshot the committed-epoch composition
    now SERVES epoch-exactly — history heals the tear the keep=0
    contract could only refuse loudly."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    root, cents, cbs = managed_epoch_hist
    e = IG.corpus_committed_epoch(root)
    q = _queries(spark, root)
    b = 1
    idx_b = IG.read_corpus_index(spark, root, up_to_batch=b)
    n = idx_b.count()
    got = _rel(
        HS.hybrid_search_stored(
            spark, root, q, k=K, pool=POOL, dense="graph", epoch=b,
            centroids=cents, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, ef=int(n) + 8,
        )
    )
    sparse = LXS.bm25_topk_stored(
        spark, IG.corpus_postings_path(root),
        q.select("query_id", "query_text"), k=POOL, up_to_batch=b,
    )
    dense = ann_hnsw.celled_hnsw_topk_cogrouped(
        ann_hnsw.build_celled_hnsw(
            idx_b, centroids=cents, dim=DIM, n_cells=N_CELLS,
        ),
        q.select("query_id", "qvec"), centroids=cents,
        k=POOL, ef=int(n) + 8, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
    )
    want = _rel(
        rrf_fuse(
            [
                sparse.select("query_id", "doc_id", "rank"),
                dense.select("query_id", "doc_id", "rank"),
            ],
            k=K,
        )
    )
    assert got == want and got

    # (b) the tear-heal: committed-epoch serving survives an in-flight
    # store refresh because the superseded epoch-e mapping is retained
    root2 = str(tmp_path / "corpus_copy")
    shutil.copytree(root, root2)
    idx = IG.read_corpus_index(spark, root2)
    n2 = idx.count()
    before = _rel(
        HS.hybrid_search_stored(
            spark, root2, q, k=K, pool=POOL, dense="graph",
            centroids=cents, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, ef=int(n2) + 8,
        )
    )
    delta = idx.limit(3).select("doc_id", "norm_embedding")
    ann_hnsw.refresh_celled_hnsw_index(
        spark, IG.corpus_graphs_path(root2), idx, delta,
        centroids=cents, dim=DIM, n_cells=N_CELLS,
        batch_id=e + 1,
    )
    assert IG.corpus_committed_epoch(root2) == e  # marker never written
    after = _rel(
        HS.hybrid_search_stored(
            spark, root2, q, k=K, pool=POOL, dense="graph",
            centroids=cents, dim=DIM, n_cells=N_CELLS,
            nprobe=N_CELLS, ef=int(n2) + 8,
        )
    )
    assert after == before and after


# ------------------------------------------------- serving snapshots:
# store-derived serving state (BM25 census, corpus stats, resolved log
# postings, graph table) is built once per store state, borrowed by later
# requests and released when the store changes.


def _snapshot_frames(path):
    """The persisted frames of the serving snapshot held for ``path``."""
    return caching._snapshots[os.path.realpath(path)][2]


def test_serving_snapshot_follows_store_changes(spark, tmp_path):
    """Serve at epoch 1, commit epoch 2 (an upsert and a delete), serve at
    ``COMMITTED`` and at the bounded epoch 1, compact the postings store,
    rebuild it in place with other documents: every answer equals the
    one-shot hybrid over the corpus at that state, and every superseded
    snapshot's frames are unpersisted."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        centroid_grid,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    b0 = docs.filter("doc_id < 40")
    b1 = docs.filter("doc_id >= 40 AND doc_id < 60")
    upd2 = (
        docs.filter("doc_id IN (5, 20)")
        .withColumn("text", F.concat(F.lit("update two "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
    )
    dels = docs.filter("doc_id IN (0, 1)").select(
        "doc_id",
        F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    state = {
        1: docs.filter("doc_id < 60").drop("_delete"),
        2: docs.filter("doc_id >= 2 AND doc_id < 60 AND doc_id NOT IN (5, 20)")
        .unionByName(upd2)
        .drop("_delete"),
    }
    cents = centroid_grid(DIM, N_CELLS)
    root = str(tmp_path / "corpus")

    def commit(batches):
        for name, b in batches:
            b.coalesce(1).write.parquet(str(tmp_path / "src" / name))
        q = IG.maintain_corpus(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src" / "*")),
            root,
            checkpoint=str(tmp_path / "ckpt"),
            ann_graphs=True,
            centroids=cents,
            dim=DIM,
            n_cells=N_CELLS,
            trigger_once=True,
            docs_store=True,
            postings_store=True,
            postings_buckets=8,
            ann_history_keep=1,
        )
        assert q.awaitTermination(300), "ingest stream did not finish"

    commit([("b0", b0), ("b1", b1)])
    assert IG.corpus_committed_epoch(root) == 1
    qdf = _queries(spark, root)
    q = spark.createDataFrame(qdf.collect(), qdf.schema)  # fixed texts
    ppath = IG.corpus_postings_path(root)
    gpath = IG.corpus_graphs_path(root)
    ef = 60 + 8  # exhaustive: the graph tier equals a rebuild

    def serve(dense, epoch=HS.COMMITTED):
        kw = {"dense": dense}
        if dense == "graph":
            kw.update(centroids=cents, dim=DIM, n_cells=N_CELLS,
                      nprobe=N_CELLS, ef=ef)
        return _rel(
            HS.hybrid_search_stored(
                spark, root, q, k=K, pool=POOL, epoch=epoch, **kw
            )
        )

    def oneshot(docs_e, dense):
        idx = build_index(docs_e)
        if dense == "graph":
            dense_top = ann_hnsw.celled_hnsw_topk_cogrouped(
                ann_hnsw.build_celled_hnsw(
                    idx, centroids=cents, dim=DIM, n_cells=N_CELLS
                ),
                q.select("query_id", "qvec"), centroids=cents, k=POOL,
                ef=ef, dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
            )
        else:
            dense_top = knn_exact_expr(q.select("query_id", "qvec"), idx,
                                       k=POOL)
        return _rel(
            rrf_fuse(
                [
                    bm25_topk(
                        docs_e, q.select("query_id", "query_text"), k=POOL
                    ).select("query_id", "doc_id", "rank"),
                    dense_top.select("query_id", "doc_id", "rank"),
                ],
                k=K,
            )
        )

    want = {}

    def check(e, dense, epoch=HS.COMMITTED):
        got = serve(dense, epoch)
        if (e, dense) not in want:
            want[e, dense] = oneshot(state[e], dense)
        assert got and got == want[e, dense], (e, dense, epoch)

    def superseded(old):
        assert old and not any(f.is_cached for f in old)

    check(1, "exact")
    check(1, "graph")
    posts1, graph1 = _snapshot_frames(ppath), _snapshot_frames(gpath)
    assert all(f.is_cached for f in posts1 + graph1)
    check(1, "exact")  # borrowed: the same entry serves again
    assert _snapshot_frames(ppath) == posts1

    commit([("b2", upd2.unionByName(dels))])
    assert IG.corpus_committed_epoch(root) == 2
    check(2, "exact")
    superseded(posts1)
    check(2, "graph")
    superseded(graph1)
    posts2 = _snapshot_frames(ppath)
    check(1, "exact", epoch=1)  # the bounded epoch rebuilds
    superseded(posts2)
    check(1, "graph", epoch=1)

    check(2, "exact")
    posts2b = _snapshot_frames(ppath)
    assert LXS.compact_postings(spark, ppath)  # same epoch, retired logs
    check(2, "exact")
    superseded(posts2b)
    assert _snapshot_frames(ppath) == ()  # a log-free store persists none

    # two in-place rebuilds: the second keeps the first's file set (the
    # root's postings/ and doclens/), so only the stamps tell them apart
    LXS.write_postings_index(state[2], ppath, n_buckets=8)
    check(2, "exact")
    rebuilt = state[2].filter("doc_id >= 20")
    LXS.write_postings_index(rebuilt, ppath, n_buckets=8)
    got = serve("exact")
    want = _rel(
        rrf_fuse(
            [
                bm25_topk(
                    rebuilt, q.select("query_id", "query_text"), k=POOL
                ).select("query_id", "doc_id", "rank"),
                knn_exact_expr(
                    q.select("query_id", "qvec"), build_index(state[2]),
                    k=POOL,
                ).select("query_id", "doc_id", "rank"),
            ],
            k=K,
        )
    )
    assert got and got == want


def test_snapshot_registry_lifetime(spark, tmp_path):
    """One entry per store path, replaced (and its frames unpersisted)
    when the key changes; ``cache_scope`` exit neither releases nor
    counts it; an entry whose store is gone is dropped on the next call;
    ``unpersist_all()`` releases every entry."""
    builds = []

    def build(tag):
        def run():
            builds.append(tag)
            df = spark.range(3).withColumn("tag", F.lit(tag)).persist()
            return tag, [df]

        return run

    a, gone = tmp_path / "a", tmp_path / "gone"
    a.mkdir()
    gone.mkdir()
    assert caching.epoch_cached(str(a), "k1", build("a1")) == "a1"
    # the same store however spelled, same key: borrowed, not rebuilt
    alias = os.path.join(str(a), "..", "a")
    assert caching.epoch_cached(alias, "k1", build("a2")) == "a1"
    assert builds == ["a1"]
    (first,) = _snapshot_frames(a)
    assert first.is_cached

    n_caches = len(caching._live_caches)
    with caching.cache_scope():
        assert caching.epoch_cached(str(a), "k1", build("a3")) == "a1"
        assert len(caching._live_caches) == n_caches
    assert first.is_cached and len(caching._live_caches) == n_caches

    assert caching.epoch_cached(str(a), "k2", build("a4")) == "a4"
    assert not first.is_cached
    assert [p for p in caching._snapshots if p == os.path.realpath(a)] == [
        os.path.realpath(a)
    ]
    (second,) = _snapshot_frames(a)

    caching.epoch_cached(str(gone), "k1", build("g"))
    (gone_frame,) = _snapshot_frames(gone)
    shutil.rmtree(gone)
    caching.epoch_cached(str(a), "k2", build("a5"))  # any registry call
    assert os.path.realpath(gone) not in caching._snapshots
    assert not gone_frame.is_cached and second.is_cached

    caching.unpersist_all()
    assert caching._snapshots == {} and not second.is_cached


def test_snapshot_registry_builds_once_under_concurrent_requests(
    spark, tmp_path, monkeypatch
):
    """Concurrent requests over one store state build ONE entry: 16
    threads on a fast switch interval race on one key (a lost check or
    update would build twice), then two threads serve stored BM25 over
    one postings store and get the serial answer."""
    import sys
    import threading

    builds = []

    def build():
        builds.append(1)
        return object(), []

    store = tmp_path / "s"
    store.mkdir()
    got, errors = [], []
    barrier = threading.Barrier(16)

    def race():
        try:
            barrier.wait(timeout=30)
            for _ in range(50):
                got.append(caching.epoch_cached(str(store), "k", build))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=race) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(builds) == 1 and len(got) == 16 * 50
    assert all(v is got[0] for v in got)

    path = str(tmp_path / "postings")
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    LXS.write_postings_index(docs.filter("doc_id >= 3"), path, n_buckets=8)
    LXS.append_postings_batch(
        docs.filter("doc_id < 3").withColumn("ts", F.lit(1)),
        path, 0, n_buckets=8,
    )
    q = docs.filter("doc_id IN (5, 20, 45)").select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    stats_builds = []
    real_stats = LXS.corpus_stats
    monkeypatch.setattr(
        LXS, "corpus_stats",
        lambda *a, **kw: stats_builds.append(1) or real_stats(*a, **kw),
    )

    def ranked(df):
        return sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]))
            for r in df.collect()
        )

    def answer():
        return ranked(LXS.bm25_topk_stored(spark, path, q, k=5))

    answers, errors = [], []

    def serve():
        try:
            answers.append(answer())
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    caching.release_snapshots()
    threads = [threading.Thread(target=serve) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(stats_builds) == 1
    want = ranked(bm25_topk(docs, q, k=5))
    assert answers == [want, want] and want
    assert len([p for p in caching._snapshots
                if p == os.path.realpath(path)]) == 1
