"""Document deletion (r11): tombstones through the index log and every
artifact the composed ingest maintains — the takedown / right-to-be-
forgotten path a training-data pipeline legally needs.

Design under test (index_stream.tombstones): a deletion is an ORDINARY
log row with a NULL embedding.  Resolution drops null-latest docs, a
later re-insert revives them, compaction removes them physically, and
the per-batch artifact refreshes (codes / graphs / lsh signatures /
vector-mean center) converge to the post-delete corpus — each pinned
against a from-scratch rebuild here.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
from vector_search_question_answer_api_spark.streaming import index_stream as IX

DIM, N_CELLS = 64, 8


def _vecs(spark, ids, seed=3):
    rng = np.random.RandomState(seed)
    pts = rng.standard_normal((max(ids) + 1, DIM))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return spark.createDataFrame(
        [
            (
                i,
                i,
                [float(x) for x in pts[i]],
                1.0,
            )
            for i in ids
        ],
        "vec_id long, doc_id long, norm_embedding array<float>, norm double",
    )


def _with_ts_batch(df, base_ms, batch):
    return df.select(
        F.timestamp_millis(F.lit(base_ms) + F.col("doc_id")).alias("ts"),
        "vec_id",
        "doc_id",
        "norm_embedding",
        "norm",
    ).withColumn("_batch", F.lit(batch))


def _ids(spark, ids, ts_ms):
    return spark.createDataFrame(
        [(i,) for i in ids], "doc_id long"
    ).select("doc_id", F.timestamp_millis(F.lit(ts_ms)).alias("ts"))


def _log_append(df, path):
    df.write.mode("append").parquet(os.path.join(path, "log"))


def test_tombstone_resolution_revival_and_compaction(spark, tmp_path):
    """Delete -> gone from read_index_latest; re-insert -> revived;
    compaction -> physically absent from the new generation; deleting a
    nonexistent doc is harmless; same-batch same-ts upsert+delete
    resolves to DELETED (the _latest_order tie rule)."""
    path = str(tmp_path / "idx")
    _log_append(_with_ts_batch(_vecs(spark, range(10)), 1_000, 0), path)
    IX.append_tombstones(_ids(spark, [3, 7, 99], 5_000), path, 1)

    alive = {r["doc_id"] for r in IX.read_index_latest(spark, path).collect()}
    assert alive == set(range(10)) - {3, 7}

    # revival: a LATER batch re-inserts doc 3
    _log_append(_with_ts_batch(_vecs(spark, [3]), 9_000, 2), path)
    alive = {r["doc_id"] for r in IX.read_index_latest(spark, path).collect()}
    assert 3 in alive and 7 not in alive

    # the currently-deleted set reader
    tombs = {r["doc_id"] for r in IX.read_index_tombstones(spark, path).collect()}
    assert tombs == {7, 99}

    # same-batch same-ts upsert + delete -> deleted wins the tie
    _log_append(_with_ts_batch(_vecs(spark, [5]), 20_000 - 5, 3), path)
    IX.append_tombstones(_ids(spark, [5], 20_000), path, 3)
    alive = {r["doc_id"] for r in IX.read_index_latest(spark, path).collect()}
    assert 5 not in alive

    # compaction removes the deleted docs' CONTENT (embedding bytes) but
    # keeps id-only null markers so the deletion evidence survives (span
    # purges / exclude_deleted reads keep working after compaction)
    IX.compact_index(spark, path)
    gen = [d for d in os.listdir(path) if d.startswith(".gen-")]
    assert len(gen) == 1
    raw = spark.read.parquet(os.path.join(path, gen[0]))
    alive_rows = {
        r["doc_id"]
        for r in raw.filter(F.col("norm_embedding").isNotNull())
        .select("doc_id").collect()
    }
    marker_rows = {
        r["doc_id"]
        for r in raw.filter(F.col("norm_embedding").isNull())
        .select("doc_id").collect()
    }
    assert alive_rows == set(range(10)) - {5, 7}
    assert marker_rows == {5, 7, 99}
    # post-compaction view identical; tombstone evidence intact
    alive = {r["doc_id"] for r in IX.read_index_latest(spark, path).collect()}
    assert alive == alive_rows
    assert {
        r["doc_id"] for r in IX.read_index_tombstones(spark, path).collect()
    } == {5, 7, 99}
    # re-insert after compaction revives
    _log_append(_with_ts_batch(_vecs(spark, [7]), 30_000, 4), path)
    assert 7 in {
        r["doc_id"] for r in IX.read_index_latest(spark, path).collect()
    }
    # drop_tombstones=True (after downstream purges): even the markers go
    IX.compact_index(spark, path, drop_tombstones=True)
    gen2 = sorted(d for d in os.listdir(path) if d.startswith(".gen-"))[-1]
    raw2 = spark.read.parquet(os.path.join(path, gen2))
    assert {r["doc_id"] for r in raw2.select("doc_id").collect()} == (
        set(range(10)) - {5}
    )
    assert IX.read_index_tombstones(spark, path).count() == 0


def test_delete_refreshes_ann_stores_to_post_delete_rebuild(spark, tmp_path):
    """The per-batch artifact refresh with a tombstone batch: both managed
    stores (codes + graphs, via refresh_search_artifacts_batch) serve
    exactly what a from-scratch build over the post-delete corpus serves —
    the deleted doc is unreachable through every tier."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import assign_cell
    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
        ivfpq_topk_ondisk,
        write_ivfpq_index_managed,
    )
    from vector_search_question_answer_api_spark.streaming import (
        ann_maintain,
    )

    root = str(tmp_path / "root")
    idx_path, codes, graphs = f"{root}/index", f"{root}/codes", f"{root}/graphs"
    cbs = codebook_grid(DIM, 8, 16)
    cents = centroid_grid(DIM, N_CELLS)

    base = _with_ts_batch(_vecs(spark, range(60)), 1_000, 0)
    _log_append(base, idx_path)
    index0 = IX.read_index_latest(spark, idx_path)
    write_ivfpq_index_managed(
        index0, codes, cbs, centroids=cents, dim=DIM, n_cells=N_CELLS
    )
    ann_hnsw.write_celled_hnsw_index_managed(
        ann_hnsw.build_celled_hnsw(
            index0, centroids=cents, dim=DIM, n_cells=N_CELLS
        ),
        graphs,
        ids=index0.select(
            "doc_id", assign_cell(F.col("norm_embedding"), cents).alias("cell")
        ),
    )

    # tombstone batch for docs 0 and 41 through the shared refresh step
    dels = IX.tombstones(_ids(spark, [0, 41], 5_000))
    ann_maintain.refresh_search_artifacts_batch(
        dels, 1, path=idx_path, codebooks=cbs, codes_path=codes,
        graphs_path=graphs, centroids=cents, dim=DIM, n_cells=N_CELLS,
    )
    fin = IX.read_index_latest(spark, idx_path).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    ).persist()
    assert {0, 41}.isdisjoint(
        {r["doc_id"] for r in fin.select("doc_id").collect()}
    )
    q = fin.filter(F.col("doc_id") < 12).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def code_rows(p):
        return {
            (int(r["query_id"]), int(r["rank"])): (
                int(r["doc_id"]), round(float(r["distance"]), 9)
            )
            for r in ivfpq_topk_ondisk(
                spark, q, p, fin, cbs, centroids=cents, k=5, dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS, refine=8,
            ).collect()
        }

    fresh_codes = f"{root}/fresh_codes"
    write_ivfpq_index_managed(
        fin, fresh_codes, cbs, centroids=cents, dim=DIM, n_cells=N_CELLS
    )
    got = code_rows(codes)
    assert got == code_rows(fresh_codes) and got
    assert all(doc not in (0, 41) for doc, _ in got.values())

    n = fin.count()

    def graph_rows(g):
        return {
            (int(r["query_id"]), int(r["rank"])): (
                int(r["doc_id"]), round(float(r["distance"]), 9)
            )
            for r in ann_hnsw.celled_hnsw_topk_cogrouped(
                g, q, centroids=cents, k=5, ef=int(n), dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS,
            ).collect()
        }

    maintained = graph_rows(ann_hnsw.read_celled_hnsw_index(spark, graphs))
    full = graph_rows(
        ann_hnsw.build_celled_hnsw(
            fin, centroids=cents, dim=DIM, n_cells=N_CELLS
        )
    )
    assert maintained == full and maintained
    assert all(doc not in (0, 41) for doc, _ in maintained.values())
    fin.unpersist()


def test_delete_drops_doc_from_lsh_signature_store(spark, tmp_path):
    """A tombstone batch through append_lsh_signatures_batch removes the
    doc from the resolved signature view (sig=NULL marker wins the
    latest-batch resolution); on-disk serving equals a fresh rebuild on
    the post-delete corpus, and a later re-insert revives the doc."""
    from vector_search_question_answer_api_spark.operators import ann

    path = str(tmp_path / "lsh")
    idx = _vecs(spark, range(40)).select(
        "doc_id", F.col("norm_embedding").cast("array<double>").alias(
            "norm_embedding"
        )
    )
    ann.write_lsh_index(idx, path, n_planes=6, n_tables=4)
    art = ann.read_lsh_artifact(path)

    tomb = spark.createDataFrame(
        [(7, None), (23, None)],
        "doc_id long, norm_embedding array<double>",
    ).select(
        "doc_id",
        "norm_embedding",
        F.timestamp_millis(F.lit(5_000)).alias("ts"),
    )
    ann.append_lsh_signatures_batch(tomb, path, 1, art)
    resolved = {
        r["doc_id"]
        for r in ann.read_lsh_signatures(spark, path).select("doc_id")
        .distinct().collect()
    }
    assert {7, 23}.isdisjoint(resolved) and resolved

    post = idx.filter(~F.col("doc_id").isin(7, 23))
    q = post.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def rel(p):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in ann.ann_lsh_topk_ondisk(spark, q, p, post, k=5).collect()
        }

    fresh = str(tmp_path / "fresh")
    ann.write_lsh_index(
        post, fresh, n_planes=art["n_planes"], n_tables=art["n_tables"],
        center=art["center"],
    )
    got = rel(path)
    assert got == rel(fresh) and got

    # revival: a later batch re-inserts doc 7's signatures
    revive = idx.filter(F.col("doc_id") == 7).select(
        "doc_id",
        "norm_embedding",
        F.timestamp_millis(F.lit(9_000)).alias("ts"),
    )
    ann.append_lsh_signatures_batch(revive, path, 2, art)
    resolved = {
        r["doc_id"]
        for r in ann.read_lsh_signatures(spark, path).select("doc_id")
        .distinct().collect()
    }
    assert 7 in resolved and 23 not in resolved


def test_ingest_delete_batch_end_to_end(spark, tmp_path):
    """maintain_corpus with a `_delete` micro-batch: the resolved index,
    both managed ANN stores, the lsh signature store, the maintained
    center, and (via exclude_deleted) span reads all drop the doc; the
    maintained radii sidecar equals a fresh recompute on the post-delete
    corpus."""
    from vector_search_question_answer_api_spark.operators import ann, ann_hnsw
    from vector_search_question_answer_api_spark.operators.pq import codebook_grid
    from vector_search_question_answer_api_spark.sources.tables import load_table
    from vector_search_question_answer_api_spark.streaming import (
        ingest_stream as IG,
        stats_stream as STS,
    )

    tmp = str(tmp_path)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    docs.coalesce(1).write.parquet(f"{tmp}/src/b0")
    # batch 1: delete every doc_id % 7 == 0 (ts later than every insert)
    dels = docs.filter("doc_id % 7 = 0").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000 + 10_000_000).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    dels.coalesce(1).write.parquet(f"{tmp}/src/b1")

    cbs = codebook_grid(DIM, 8, 16)
    cents = centroid_grid(DIM, N_CELLS)
    art_src = f"{tmp}/art"
    n0 = docs.count()
    ann.write_lsh_artifact(
        art_src, dim=DIM, n_planes=ann.recommended_n_planes(n0), center=None
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    root = f"{tmp}/corpus"
    q = IG.maintain_corpus(
        stream,
        root,
        checkpoint=f"{tmp}/ckpt",
        codebooks=cbs,
        ann_graphs=True,
        centroids=cents,
        dim=DIM,
        n_cells=N_CELLS,
        trigger_once=True,
        lsh_artifact=art_src,
        graph_radii=True,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"

    deleted = {int(r["doc_id"]) for r in dels.select("doc_id").collect()}
    fin = IG.read_corpus_index(spark, root).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    ).persist()
    alive = {int(r["doc_id"]) for r in fin.select("doc_id").collect()}
    assert alive.isdisjoint(deleted) and len(alive) == n0 - len(deleted)

    # lsh store resolves without the deleted docs
    sig_docs = {
        int(r["doc_id"])
        for r in ann.read_lsh_signatures(spark, IG.corpus_lsh_path(root))
        .select("doc_id").distinct().collect()
    }
    assert sig_docs == alive

    # maintained center == corpus_center over the post-delete resolved view
    got_center = STS.read_profile_center(spark, f"{root}/profile")
    want_center = ann.corpus_center(fin, dim=DIM)
    assert max(
        abs(a - b) for a, b in zip(got_center, want_center)
    ) < 1e-9

    # graph serving == post-delete rebuild; radii sidecar exact
    qdf = fin.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    n = fin.count()

    def rows(g):
        return {
            (int(r["query_id"]), int(r["rank"])): int(r["doc_id"])
            for r in ann_hnsw.celled_hnsw_topk_cogrouped(
                g, qdf, centroids=cents, k=5, ef=int(n), dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS,
            ).collect()
        }

    maintained = rows(ann_hnsw.read_celled_hnsw_index(spark, f"{root}/graphs"))
    full = rows(
        ann_hnsw.build_celled_hnsw(
            fin, centroids=cents, dim=DIM, n_cells=N_CELLS
        )
    )
    assert maintained == full and maintained
    assert all(d not in deleted for d in maintained.values())
    stored_radii = ann_hnsw.read_cell_radii(f"{root}/graphs")
    fresh_radii = ann_hnsw.cell_radii(fin, centroids=cents, dim=DIM)
    assert all(
        abs(a - b) < 1e-9 for a, b in zip(stored_radii, fresh_radii)
    )

    # span reads exclude deleted docs
    span_docs = {
        int(r["doc_id"])
        for r in IG.read_corpus_spans(
            spark, root, k=8, exclude_deleted=True
        ).collect()
    }
    assert span_docs.isdisjoint(deleted)

    # right-to-be-forgotten span compaction: after purge_corpus_spans the
    # store is EXACT over the post-delete corpus with no exclude flag
    from vector_search_question_answer_api_spark.operators import spans as SP

    IG.purge_corpus_spans(spark, root)
    alive_docs = docs.filter(~F.col("doc_id").isin(*deleted)).select(
        "doc_id", "text"
    )
    got_spans = {
        (int(r["doc_id"]), int(r["span_start"]), int(r["span_end"]))
        for r in IG.read_corpus_spans(spark, root, k=8).collect()
    }
    want_spans = {
        (int(r["doc_id"]), int(r["span_start"]), int(r["span_end"]))
        for r in SP.duplicate_spans(alive_docs, k=8).collect()
    }
    assert got_spans == want_spans
    fin.unpersist()


def test_crashed_lsh_rebuild_not_resurrected_by_append(spark, tmp_path):
    """Review fix (r11): a missing manifest over EXISTING signature data is
    a crashed write_lsh_index rebuild — append_lsh_signatures_batch must
    refuse to re-manifest it (the stale log's batch ids would outrank the
    fresh base rows), not silently bootstrap."""
    from vector_search_question_answer_api_spark.operators import ann

    path = str(tmp_path / "lsh")
    idx = _vecs(spark, range(20)).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    )
    ann.write_lsh_index(idx, path, n_planes=6, n_tables=2)
    art = ann.read_lsh_artifact(path)
    os.remove(os.path.join(path, "_lsh_artifact.json")) if os.path.exists(
        os.path.join(path, "_lsh_artifact.json")
    ) else None
    # find and remove the manifest file regardless of its exact name
    for f in os.listdir(path):
        fp = os.path.join(path, f)
        if os.path.isfile(fp) and f.endswith(".json"):
            os.remove(fp)
    batch = idx.limit(3).select(
        "doc_id", "norm_embedding",
        F.timestamp_millis(F.lit(1000)).alias("ts"),
    )
    with pytest.raises(ValueError, match="signature data exists"):
        ann.append_lsh_signatures_batch(batch, path, 5, art)


def test_lsh_append_without_ts_refuses_duplicate_doc(spark, tmp_path):
    """Review fix (r11): no event time -> no within-batch version order;
    a batch with duplicate doc_ids must raise instead of keeping BOTH
    versions' signatures forever."""
    from vector_search_question_answer_api_spark.operators import ann

    path = str(tmp_path / "lsh")
    idx = _vecs(spark, range(10)).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    )
    ann.write_lsh_index(idx, path, n_planes=6, n_tables=2)
    art = ann.read_lsh_artifact(path)
    dup = idx.limit(1).unionByName(idx.limit(1)).select(
        "doc_id", "norm_embedding"
    )
    with pytest.raises(ValueError, match="multiple rows for doc_id"):
        ann.append_lsh_signatures_batch(dup, path, 1, art)
    # unique rows without ts still append fine
    ann.append_lsh_signatures_batch(
        idx.filter("doc_id >= 8").select("doc_id", "norm_embedding"),
        path, 2, art,
    )


def test_vecmean_first_batch_dedups_intra_batch_versions(spark, tmp_path):
    """Review fix (r11): the add-side latest-per-doc dedup must apply on
    the FIRST batch too (no superseded evidence exists, but an
    intra-batch multi-version doc would otherwise corrupt the mean
    forever) — and the same-ts upsert+delete tie must resolve to deleted,
    matching the log's tie rule."""
    from vector_search_question_answer_api_spark.streaming import (
        stats_stream as STS,
    )

    path = str(tmp_path / "profile")
    v = _vecs(spark, [0, 1])
    # doc 0 appears twice in batch 0: v1 at ts=1000, v2 at ts=2000
    b0 = (
        v.filter("doc_id = 0")
        .select(
            F.timestamp_millis(F.lit(1000)).alias("ts"), "doc_id",
            "norm_embedding",
        )
        .unionByName(
            _vecs(spark, [0], seed=9).select(
                F.timestamp_millis(F.lit(2000)).alias("ts"), "doc_id",
                "norm_embedding",
            )
        )
        .unionByName(
            v.filter("doc_id = 1").select(
                F.timestamp_millis(F.lit(1000)).alias("ts"), "doc_id",
                "norm_embedding",
            )
        )
    )
    STS.write_vecmean_batch(b0, path, 0)
    got = STS.read_profile_center(spark, path)
    final0 = _vecs(spark, [0], seed=9).collect()[0]["norm_embedding"]
    v1 = v.filter("doc_id = 1").collect()[0]["norm_embedding"]
    want = [(a + b) / 2.0 for a, b in zip(final0, v1)]
    assert max(abs(a - b) for a, b in zip(got, want)) < 1e-9

    # full takedown nets the counts to zero -> () sentinel, not a crash
    path2 = str(tmp_path / "profile2")
    one = v.filter("doc_id = 0").select(
        F.timestamp_millis(F.lit(1000)).alias("ts"), "doc_id",
        "norm_embedding",
    )
    STS.write_vecmean_batch(one, path2, 0)
    tomb = spark.createDataFrame([(0,)], "doc_id long").select(
        F.timestamp_millis(F.lit(2000)).alias("ts"),
        "doc_id",
        F.lit(None).cast("array<float>").alias("norm_embedding"),
    )
    STS.write_vecmean_batch(
        tomb, path2, 1,
        superseded=one.select("doc_id", "norm_embedding"),
    )
    assert STS.read_profile_center(spark, path2) == ()


def test_session_takedown_batch_equals_stream(spark, tmp_path):
    """VERDICT r11 #7: a deleted doc must not live on as session context.
    Delete the context doc mid-stream -> the next question drops the
    stored context (the no-context branch) and re-retrieves; the deleted
    doc is no longer servable as a candidate; a different question then
    re-acquires a live context.  Batch replay with event-time tombstones
    over the FULL index reproduces the stream bit-for-bit."""
    from datetime import datetime, timedelta

    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )
    from vector_search_question_answer_api_spark.operators.sessions import (
        prepare_qa_events,
        replay_sessions,
    )
    from vector_search_question_answer_api_spark.streaming.session_stream import (
        attach_session_state,
    )

    T0 = datetime(2024, 1, 1, 12, 0, 0)
    DOC_A = "alpha strain with thc 20% relaxing indica profile for evening use"
    DOC_B = "citrus sativa energizing bright flavor daytime focus boost blend"
    docs = spark.createDataFrame(
        [
            (0, DOC_A, "en", "s", len(DOC_A)),
            (1, DOC_B, "en", "s", len(DOC_B)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    index = build_index(docs).cache()
    # doc 0 deleted at T0+90s — between events 1 and 2
    del_ms = int((T0 + timedelta(seconds=90)).timestamp() * 1000)
    log_path = str(tmp_path / "ix")
    IX.append_tombstones(_ids(spark, [0], del_ms), log_path, 0)
    tombs = IX.read_index_tombstones(spark, log_path, with_ts=True)
    assert {(int(r["doc_id"]), r["ts"]) for r in tombs.collect()} == {
        (0, T0 + timedelta(seconds=90))
    }

    rows = [
        (0, T0, "s1", DOC_A),                          # -> context 0
        (1, T0 + timedelta(minutes=1), "s1", DOC_A),   # keeps context 0
        (2, T0 + timedelta(minutes=2), "s1", DOC_A),   # post-delete: drop +
        #                                      re-retrieve -> doc 0 is gone
        #                                      as a candidate too -> fallback
        (3, T0 + timedelta(minutes=3), "s1", DOC_B),   # re-acquires doc 1
    ]
    qa = spark.createDataFrame(
        rows, "event_id long, ts timestamp, session_id string, question string"
    )
    # without tombstones the deleted doc would keep serving as context —
    # the r11 gap this closes
    stale = {
        r["event_id"]: r for r in replay_sessions(qa, index).collect()
    }
    assert stale[2]["context_doc_id"] == 0
    got = {
        r["event_id"]: r
        for r in replay_sessions(qa, index, tombstones=tombs).collect()
    }
    assert got[0]["context_doc_id"] == 0 and got[0]["context_changed"]
    assert got[1]["context_doc_id"] == 0
    assert got[2]["context_doc_id"] is None and got[2]["used_fallback"]
    assert not got[2]["context_changed"]
    assert got[3]["context_doc_id"] == 1 and got[3]["context_changed"]
    assert not got[3]["used_fallback"]

    # stream: same events in TWO micro-batches split at the deletion time,
    # state carried across — must equal the batch replay column-for-column
    prepared = prepare_qa_events(qa, index)
    src = str(tmp_path / "prepared")
    ckpt = str(tmp_path / "ckpt")
    dest = str(tmp_path / "out")
    schema = None
    stream_out = {}
    for pred in ("event_id < 2", "event_id >= 2"):
        prepared.filter(pred).write.mode("append").parquet(src)
        schema = schema or spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = attach_session_state(stream, tombstones=tombs)
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", dest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish"
        for r in spark.read.parquet(dest).collect():
            stream_out[r["event_id"]] = r
    assert set(stream_out) == set(got)
    for eid in got:
        for col in (
            "session_id",
            "context_doc_id",
            "context_changed",
            "is_new_topic",
            "used_fallback",
            "answer",
            "history_len",
            "expired_before",
        ):
            assert stream_out[eid][col] == got[eid][col], (
                f"event {eid} col {col}: "
                f"{stream_out[eid][col]} != {got[eid][col]}"
            )
    index.unpersist()


def test_deleted_candidate_falls_through_with_multi_candidates(
    spark, tmp_path
):
    """r12 review fix: with ``n_candidates>1`` a tombstoned rank-1
    candidate falls through to the event's next-best LIVE doc — what
    re-retrieval against the post-delete index serves — instead of the
    single-candidate conservative miss; batch == stream with the
    candidate arrays riding the prepared relation."""
    from datetime import datetime, timedelta

    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )
    from vector_search_question_answer_api_spark.operators.sessions import (
        prepare_qa_events,
        replay_sessions,
    )
    from vector_search_question_answer_api_spark.streaming.session_stream import (
        attach_session_state,
    )

    T0 = datetime(2024, 1, 1, 12, 0, 0)
    DOC_A = "alpha strain with thc 20% relaxing indica profile for evening use"
    DOC_B = "alpha strain with thc 21% relaxing indica profile for evening use"
    DOC_C = "citrus sativa energizing bright flavor daytime focus boost blend"
    docs = spark.createDataFrame(
        [
            (0, DOC_A, "en", "s", len(DOC_A)),
            (1, DOC_B, "en", "s", len(DOC_B)),
            (2, DOC_C, "en", "s", len(DOC_C)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    index = build_index(docs).cache()
    del_ms = int((T0 + timedelta(seconds=90)).timestamp() * 1000)
    log_path = str(tmp_path / "ix")
    IX.append_tombstones(_ids(spark, [0], del_ms), log_path, 0)
    tombs = IX.read_index_tombstones(spark, log_path, with_ts=True)

    rows = [
        (0, T0, "s1", DOC_A),                        # -> context 0
        (1, T0 + timedelta(minutes=2), "s1", DOC_A), # post-delete
    ]
    qa = spark.createDataFrame(
        rows, "event_id long, ts timestamp, session_id string, question string"
    )
    # single candidate: conservative miss (the r12 baseline behavior)
    one = {
        r["event_id"]: r
        for r in replay_sessions(qa, index, tombstones=tombs).collect()
    }
    assert one[1]["context_doc_id"] is None and one[1]["used_fallback"]
    # two candidates: the event falls through to the live near-duplicate
    two = {
        r["event_id"]: r
        for r in replay_sessions(
            qa, index, tombstones=tombs, n_candidates=2
        ).collect()
    }
    assert two[0]["context_doc_id"] == 0  # pre-delete event untouched
    assert two[1]["context_doc_id"] == 1 and not two[1]["used_fallback"]
    assert two[1]["context_changed"]
    # equivalence with true re-retrieval: a replay prepared on the
    # POST-DELETE index serves the same doc for the post-deletion event
    post_index = build_index(docs.filter("doc_id != 0")).cache()
    fresh = {
        r["event_id"]: r
        for r in replay_sessions(qa, post_index).collect()
    }
    assert fresh[1]["context_doc_id"] == two[1]["context_doc_id"]
    assert fresh[1]["used_fallback"] == two[1]["used_fallback"]

    # batch == stream with the candidate arrays on the prepared relation
    prepared = prepare_qa_events(qa, index, n_candidates=2)
    src, ckpt, dest = (
        str(tmp_path / "prep"), str(tmp_path / "ck"), str(tmp_path / "out")
    )
    prepared.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = attach_session_state(stream, tombstones=tombs)
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    stream_out = {
        r["event_id"]: r for r in spark.read.parquet(dest).collect()
    }
    for eid in two:
        for col in ("context_doc_id", "used_fallback", "context_changed"):
            assert stream_out[eid][col] == two[eid][col], (eid, col)
    index.unpersist()
    post_index.unpersist()


def test_distributed_takedown_no_collect_batch_equals_dict_and_stream(
    spark, tmp_path
):
    """r13 (VERDICT r12 What's wrong #3): a tombstone DATAFRAME takes the
    distributed path — broadcast-joined onto candidates, deletion time
    carried in session state — and must (a) never collect the tombstone
    relation (pinned by poisoning .collect on the instance), (b) equal
    the dict path row-for-row, and (c) hold batch ≡ stream with the
    deletion info riding the PREPARED relation (attach_session_state
    gets no tombstones at all — nothing driver-sized anywhere)."""
    from datetime import datetime, timedelta

    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )
    from vector_search_question_answer_api_spark.operators.sessions import (
        prepare_qa_events,
        replay_sessions,
    )
    from vector_search_question_answer_api_spark.streaming.session_stream import (
        attach_session_state,
    )

    T0 = datetime(2024, 1, 1, 12, 0, 0)
    DOC_A = "alpha strain with thc 20% relaxing indica profile for evening use"
    DOC_B = "alpha strain with thc 21% relaxing indica profile for evening use"
    DOC_C = "citrus sativa energizing bright flavor daytime focus boost blend"
    docs = spark.createDataFrame(
        [
            (0, DOC_A, "en", "s", len(DOC_A)),
            (1, DOC_B, "en", "s", len(DOC_B)),
            (2, DOC_C, "en", "s", len(DOC_C)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    index = build_index(docs).cache()
    del_ts = T0 + timedelta(seconds=90)
    log_path = str(tmp_path / "ix")
    IX.append_tombstones(
        _ids(spark, [0], int(del_ts.timestamp() * 1000)), log_path, 0
    )
    tombs = IX.read_index_tombstones(spark, log_path, with_ts=True)

    rows = [
        (0, T0, "s1", DOC_A),                          # -> context 0
        (1, T0 + timedelta(minutes=1), "s1", DOC_A),   # keeps context 0
        (2, T0 + timedelta(minutes=2), "s1", DOC_A),   # post-delete: falls
        #                                        through to live twin doc 1
        (3, T0 + timedelta(minutes=3), "s1", DOC_C),   # new topic -> doc 2
    ]
    qa = spark.createDataFrame(
        rows, "event_id long, ts timestamp, session_id string, question string"
    )
    cmp_cols = (
        "session_id", "context_doc_id", "context_changed", "is_new_topic",
        "used_fallback", "answer", "history_len", "expired_before",
    )

    def as_map(res):
        return {r["event_id"]: r for r in res}

    # oracle: the dict path (collected by contract)
    want = as_map(
        replay_sessions(
            qa, index, tombstones={0: del_ts}, n_candidates=2
        ).collect()
    )
    assert want[2]["context_doc_id"] == 1  # fall-through worked

    # the distributed path with a poisoned .collect: the pin that the
    # tombstone relation NEVER lands on the driver
    def _boom(*a, **k):
        raise AssertionError(
            "tombstone DataFrame was collected on the distributed path"
        )

    tombs.collect = _boom  # instance-level poison
    tombs.toPandas = _boom
    got = as_map(
        replay_sessions(
            qa, index, tombstones=tombs, n_candidates=2
        ).collect()
    )
    assert set(got) == set(want)
    for eid in want:
        for col in cmp_cols:
            assert got[eid][col] == want[eid][col], (eid, col)

    # single-candidate distributed path: conservative miss, same as dict
    want1 = as_map(
        replay_sessions(qa, index, tombstones={0: del_ts}).collect()
    )
    got1 = as_map(replay_sessions(qa, index, tombstones=tombs).collect())
    for eid in want1:
        for col in cmp_cols:
            assert got1[eid][col] == want1[eid][col], (eid, col)
    assert want1[2]["context_doc_id"] is None  # the N=1 conservative miss

    # stream: deletion info rides the PREPARED relation; the stateful
    # stage gets NO tombstones argument.  Two micro-batches split at the
    # deletion time so the adopted context's deletion info must survive
    # the state-store round-trip.
    prepared = prepare_qa_events(qa, index, n_candidates=2, tombstones=tombs)
    assert "cand_del" in prepared.columns and "cand_dels" in prepared.columns
    src, ckpt, dest = (
        str(tmp_path / "prep"), str(tmp_path / "ck"), str(tmp_path / "out")
    )
    schema = None
    stream_out = {}
    for pred in ("event_id < 2", "event_id >= 2"):
        prepared.filter(pred).write.mode("append").parquet(src)
        schema = schema or spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = attach_session_state(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", dest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish"
        for r in spark.read.parquet(dest).collect():
            stream_out[r["event_id"]] = r
    assert set(stream_out) == set(want)
    for eid in want:
        for col in cmp_cols:
            assert stream_out[eid][col] == want[eid][col], (eid, col)
    index.unpersist()


def test_refresh_batch_leaves_caller_cache_alone(spark, tmp_path):
    """Cache ownership of the shared refresh step (ADVICE r15): a batch
    the CALLER already persisted (ingest_stream's `indexed`, still feeding
    concurrent sibling stages when the refresh returns) must stay cached
    after refresh_search_artifacts_batch; a batch that arrives uncached is
    persisted for the refresh's own multi-action body and released."""
    from pyspark import StorageLevel

    from vector_search_question_answer_api_spark.streaming import ann_maintain

    idx_path = str(tmp_path / "index")
    pre = _with_ts_batch(_vecs(spark, range(8)), 1_000, 0).drop("_batch")
    pre = pre.persist()
    pre.count()
    ann_maintain.refresh_search_artifacts_batch(pre, 0, path=idx_path)
    assert pre.storageLevel != StorageLevel.NONE, (
        "refresh unpersisted a caller-owned cache"
    )
    pre.unpersist()

    cold = _with_ts_batch(_vecs(spark, range(8, 16)), 2_000, 1).drop("_batch")
    ann_maintain.refresh_search_artifacts_batch(cold, 1, path=idx_path)
    assert cold.storageLevel == StorageLevel.NONE, (
        "refresh leaked its own persist"
    )
    assert IX.read_index_latest(spark, idx_path).count() == 16
