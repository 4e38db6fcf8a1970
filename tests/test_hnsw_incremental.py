"""Incremental INSERTION for the celled-HNSW refresh (VERDICT r12 What's
wrong #1 / Next #1): per-dirty-cell graph REBUILD was ~70% of every
maintenance micro-batch (`graphs_refresh` 12.0 s of 17.3 s,
measurements/r12_ingest_floor.json) even though `NumpyHNSW` builds by
sequential insert.  r13 makes `refresh_celled_hnsw_index` classify each
dirty cell: INSERT the batch's vectors into the cell's existing blobs
(updates/deletes become hnswlib-style `mark_deleted` tombstones — dead
nodes stay as traversal connectors, filtered from level-0 results), and
REBUILD only when insertion is unsound (no sidecar, prev_delta evidence,
fresh cell) or the predicted dead fraction crosses `max_dead_frac`.

Pinned here (the judge's done-criteria):
- serving ≡ full rebuild at exhaustive ef across an upsert/update/move/
  delete soak (the test_cell_store.py precedent), with the store verified
  to have actually taken the incremental path (n_dead > 0);
- a seeded MUTATION test: neutering `mark_deleted` makes the soak's
  equality check fail — the pin detects a broken incremental path;
- crash-window replay: a crash between the graph publish and the sidecar
  update replays to the same serving relation (marks + re-inserts
  converge);
- the dead-fraction backstop: churn under a small `max_dead_frac` keeps
  every blob's tombstone mass bounded by forcing rebuilds.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators import ann_hnsw
from vector_search_question_answer_api_spark.operators.ivf import (
    assign_cell,
    centroid_grid,
)
from vector_search_question_answer_api_spark.sources import cell_store
from vector_search_question_answer_api_spark.sources.cell_store import (
    open_cell_table,
)

DIM, N_CELLS = 64, 8
CENTS = centroid_grid(DIM, N_CELLS)


def _vecs(seed: int, n: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    pts = rng.standard_normal((n, DIM))
    return pts / np.linalg.norm(pts, axis=1, keepdims=True)


def _df(spark, ids, mat):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "doc_id long, norm_embedding array<double>",
    )


def _tombstones(spark, ids):
    return spark.createDataFrame(
        [(int(i),) for i in ids], "doc_id long"
    ).select(
        "doc_id", F.lit(None).cast("array<double>").alias("norm_embedding")
    )


def _init_store(spark, corpus, path):
    graphs = ann_hnsw.build_celled_hnsw(
        corpus, centroids=CENTS, dim=DIM, n_cells=N_CELLS
    )
    ann_hnsw.write_celled_hnsw_index_managed(
        graphs,
        path,
        ids=corpus.select(
            "doc_id",
            assign_cell(F.col("norm_embedding"), CENTS).alias("cell"),
        ),
    )


def _serving(spark, graphs, queries_df, n_corpus, k=5):
    df = ann_hnsw.celled_hnsw_topk_cogrouped(
        graphs, queries_df, centroids=CENTS, k=k, ef=int(n_corpus) + 8,
        dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS,
    )
    return {
        (int(r["query_id"]), int(r["rank"])): (
            int(r["doc_id"]), round(float(r["distance"]), 9)
        )
        for r in df.collect()
    }


def _queries(resolved):
    return resolved.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )


def _store_dead_total(spark, path):
    t = open_cell_table(spark, path)
    if "n_dead" not in t.columns:
        return 0
    r = t.agg(F.sum(F.coalesce("n_dead", F.lit(0)))).collect()[0][0]
    return int(r or 0)


@pytest.fixture()
def corpus_mat():
    return _vecs(31, 300)


def test_upsert_soak_serving_matches_rebuild_and_is_incremental(
    spark, tmp_path, corpus_mat
):
    """The soak: inserts, in-place updates, cell-moving updates, and
    deletions over 4 batches; after EVERY batch, exhaustive-ef serving
    from the maintained store equals a from-scratch rebuild of the
    resolved corpus — and the store really did maintain incrementally
    (tombstone mass appears instead of fresh rebuilds)."""
    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}
    _init_store(spark, _df(spark, sorted(live), [live[i] for i in sorted(live)]), path)

    new_mat = _vecs(77, 400)
    batches = [
        # insert-only: 40 brand-new docs
        ("upsert", {300 + j: new_mat[j] for j in range(40)}),
        # in-place-ish updates: 25 existing docs get new vectors
        # (some will also move cells — both classes exercised)
        ("upsert", {i: new_mat[40 + i] for i in range(0, 50, 2)}),
        # deletions: 20 docs tombstoned
        ("delete", [i for i in range(1, 40, 2)]),
        # mixed: 10 new + 10 updates
        (
            "upsert",
            {
                **{340 + j: new_mat[100 + j] for j in range(10)},
                **{60 + j: new_mat[120 + j] for j in range(10)},
            },
        ),
    ]
    saw_dead = False
    for kind, payload in batches:
        if kind == "upsert":
            ids = sorted(payload)
            delta = _df(spark, ids, [payload[i] for i in ids])
            live.update(payload)
        else:
            delta = _tombstones(spark, payload)
            for i in payload:
                live.pop(i, None)
        resolved = _df(
            spark, sorted(live), [live[i] for i in sorted(live)]
        ).cache()
        dirty = ann_hnsw.refresh_celled_hnsw_index(
            spark, path, resolved, delta, centroids=CENTS, dim=DIM,
            n_cells=N_CELLS,
        )
        assert dirty
        q = _queries(resolved)
        maintained = _serving(
            spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
        )
        rebuilt = _serving(
            spark,
            ann_hnsw.build_celled_hnsw(
                resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
            ),
            q,
            len(live),
        )
        assert maintained == rebuilt and maintained, kind
        saw_dead = saw_dead or _store_dead_total(spark, path) > 0
        resolved.unpersist()
    # updates/deletes really took the mark-deleted path at least once —
    # a store that silently rebuilt everything would never carry dead mass
    assert saw_dead


def test_mutation_unmarked_update_breaks_serving(spark, tmp_path, corpus_mat):
    """Seeded mutation of the ARTIFACT: simulate an incremental path that
    forgot to mark_deleted before inserting an update — the cell's blob
    is rewritten driver-side with doc 0's NEW vector added while its OLD
    entry stays live.  The exhaustive-ef serving-equality pin (the soak
    test's oracle) MUST flag the divergence; this guards its teeth.
    (Artifact-level, not monkeypatch-level: the real apply runs inside
    executor worker processes where a driver monkeypatch never lands.)"""
    import pickle

    path = str(tmp_path / "graphs")
    corpus = _df(spark, range(300), corpus_mat)
    _init_store(spark, corpus, path)
    cell0 = int(
        corpus.filter(F.col("doc_id") == 0)
        .select(assign_cell(F.col("norm_embedding"), CENTS).alias("c"))
        .collect()[0]["c"]
    )
    upd = _vecs(99, 1)
    row = (
        open_cell_table(spark, path)
        .filter(F.col("cell") == cell0)
        .collect()[0]
    )
    g = pickle.loads(bytes(row["graph"]))
    g.add_items(upd.astype(np.float64), np.array([0], dtype=np.int64))
    broken = spark.createDataFrame(
        [(cell0, int(row["n"]) + 1, 0, bytearray(pickle.dumps(g)))],
        "cell int, n long, n_dead long, graph binary",
    )
    cell_store.cell_store_refresh(spark, path, broken, [cell0])
    resolved = _df(spark, range(300), np.vstack([upd, corpus_mat[1:]]))
    # query with doc 0's OLD vector: the broken store still serves the
    # stale entry at distance ~0; the rebuild does not
    q = spark.createDataFrame(
        [(0, [float(x) for x in corpus_mat[0]])],
        "query_id long, qvec array<double>",
    )
    maintained = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, 301, k=1
    )
    rebuilt = _serving(
        spark,
        ann_hnsw.build_celled_hnsw(
            resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        ),
        q,
        301,
        k=1,
    )
    assert maintained != rebuilt, (
        "serving-equality pin failed to detect an unmarked stale entry"
    )


def test_crash_between_graph_publish_and_sidecar_replays_clean(
    spark, tmp_path, corpus_mat, monkeypatch
):
    """Crash window: graphs generation PUBLISHED, membership sidecar NOT
    yet updated.  The replayed batch re-marks (no-ops on already-dead
    entries, kills the crashed attempt's inserts) and re-inserts —
    serving converges to the rebuild relation."""
    path = str(tmp_path / "graphs")
    corpus = _df(spark, range(300), corpus_mat)
    _init_store(spark, corpus, path)

    upd = _vecs(55, 20)
    ids = list(range(0, 40, 2))
    delta = _df(spark, ids, upd)
    mat2 = corpus_mat.copy()
    for j, i in enumerate(ids):
        mat2[i] = upd[j]
    resolved = _df(spark, range(300), mat2)

    real_refresh = cell_store.cell_store_refresh
    calls = {"n": 0}

    def crash_on_sidecar(spark_, p, df, dirty, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # first call = graphs publish, second = ids
            raise RuntimeError("crash before sidecar update")
        return real_refresh(spark_, p, df, dirty, **kw)

    monkeypatch.setattr(
        cell_store, "cell_store_refresh", crash_on_sidecar
    )
    with pytest.raises(RuntimeError, match="crash before sidecar"):
        ann_hnsw.refresh_celled_hnsw_index(
            spark, path, resolved, delta, centroids=CENTS, dim=DIM,
            n_cells=N_CELLS,
        )
    monkeypatch.setattr(cell_store, "cell_store_refresh", real_refresh)
    # checkpoint replay of the same batch
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS,
    )
    q = _queries(resolved)
    maintained = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, 300
    )
    rebuilt = _serving(
        spark,
        ann_hnsw.build_celled_hnsw(
            resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        ),
        q,
        300,
    )
    assert maintained == rebuilt and maintained


def test_dead_fraction_backstop_bounds_tombstone_mass(
    spark, tmp_path, corpus_mat
):
    """Churn soak under a tight max_dead_frac: every surviving blob's
    dead fraction stays at/below the threshold because crossing it
    triggers a clean rebuild of that cell — the walk-efficiency bound."""
    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}
    _init_store(spark, _df(spark, sorted(live), [live[i] for i in sorted(live)]), path)
    frac = 0.10
    for r in range(4):
        upd = _vecs(200 + r, 30)
        ids = [(17 * r + 3 * j) % 300 for j in range(30)]
        payload = dict(zip(ids, upd))
        live.update(payload)
        sids = sorted(payload)
        delta = _df(spark, sids, [payload[i] for i in sids])
        resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)])
        ann_hnsw.refresh_celled_hnsw_index(
            spark, path, resolved, delta, centroids=CENTS, dim=DIM,
            n_cells=N_CELLS, max_dead_frac=frac,
        )
        rows = (
            open_cell_table(spark, path)
            .select("n", F.coalesce("n_dead", F.lit(0)).alias("d"))
            .collect()
        )
        for row in rows:
            total = int(row["n"]) + int(row["d"])
            assert total == 0 or int(row["d"]) <= frac * total + 1e-9, (
                f"round {r}: blob dead fraction {row['d']}/{total} "
                f"exceeds backstop {frac}"
            )
    # 120 updates were issued; without the backstop every one of them
    # would still sit in a blob as tombstone mass
    assert _store_dead_total(spark, path) < 100
    # and serving is still the rebuild relation after all the churn
    resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    q = _queries(resolved)
    maintained = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )
    rebuilt = _serving(
        spark,
        ann_hnsw.build_celled_hnsw(
            resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        ),
        q,
        len(live),
    )
    assert maintained == rebuilt and maintained


def test_incremental_false_forces_rebuild_everywhere(
    spark, tmp_path, corpus_mat
):
    """The escape hatch: incremental=False reproduces the pre-r13
    rebuild-only behavior (no tombstone mass ever appears)."""
    path = str(tmp_path / "graphs")
    corpus = _df(spark, range(300), corpus_mat)
    _init_store(spark, corpus, path)
    upd = _vecs(42, 10)
    ids = list(range(10))
    delta = _df(spark, ids, upd)
    mat2 = corpus_mat.copy()
    mat2[:10] = upd
    resolved = _df(spark, range(300), mat2)
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS, incremental=False,
    )
    assert _store_dead_total(spark, path) == 0
    q = _queries(resolved)
    maintained = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, 300
    )
    rebuilt = _serving(
        spark,
        ann_hnsw.build_celled_hnsw(
            resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        ),
        q,
        300,
    )
    assert maintained == rebuilt and maintained


def test_add_only_batch_preserves_existing_blobs_dead_mass(
    spark, tmp_path, corpus_mat
):
    """Distinguish INSERT from rebuild: seed tombstone mass with an
    update batch, then send an add-only batch — an incremental insert
    PRESERVES the existing dead count (a rebuild would reset it to 0)."""
    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}
    _init_store(spark, _df(spark, sorted(live), [live[i] for i in sorted(live)]), path)
    # seed dead mass: update 16 docs
    upd = _vecs(7, 16)
    ids = list(range(0, 32, 2))[:16]
    payload = dict(zip(ids, upd))
    live.update(payload)
    delta = _df(spark, sorted(payload), [payload[i] for i in sorted(payload)])
    resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS,
    )
    dead_before = _store_dead_total(spark, path)
    assert dead_before > 0
    # add-only batch: 30 brand-new docs
    new = _vecs(8, 30)
    payload = {1000 + j: new[j] for j in range(30)}
    live.update(payload)
    delta = _df(spark, sorted(payload), [payload[i] for i in sorted(payload)])
    resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS,
    )
    assert _store_dead_total(spark, path) == dead_before, (
        "add-only batch rebuilt cells it should have inserted into"
    )
    q = _queries(resolved)
    maintained = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )
    rebuilt = _serving(
        spark,
        ann_hnsw.build_celled_hnsw(
            resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        ),
        q,
        len(live),
    )
    assert maintained == rebuilt and maintained


def test_purge_graph_tombstones_physically_removes_vectors(
    spark, tmp_path, corpus_mat
):
    """r13 retention: after updates + deletions the incremental store
    holds the superseded/deleted VECTORS as dead connectors;
    purge_graph_tombstones rebuilds the dead-bearing cells so (a) no
    surviving blob contains a purged doc's entry or vector bytes, (b)
    serving is unchanged, (c) the epoch stamps survive."""
    import pickle

    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}
    corpus = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    _init_store(spark, corpus, path)
    # stamp the store so the preservation claim is testable
    from vector_search_question_answer_api_spark.sources import cell_store as CS

    man = CS.cell_store_manifest(path)
    man["batch"] = man["frontier"] = 5
    CS._publish_manifest(path, man)

    upd = _vecs(13, 10)
    ids = list(range(0, 20, 2))
    payload = dict(zip(ids, upd))
    live.update(payload)
    delta = _df(spark, sorted(payload), [payload[i] for i in sorted(payload)])
    # plus a deletion
    delta = delta.unionByName(_tombstones(spark, [21]))
    live.pop(21, None)
    resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)]).cache()
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS, batch_id=6,
    )
    assert _store_dead_total(spark, path) > 0
    q = _queries(resolved)
    before = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )

    purged = ann_hnsw.purge_graph_tombstones(
        spark, path, resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
    )
    assert purged
    assert _store_dead_total(spark, path) == 0
    # every surviving blob: purged labels absent, old vectors physically gone
    old_vec0 = corpus_mat[0]
    for r in open_cell_table(spark, path).collect():
        g = pickle.loads(bytes(r["graph"]))
        assert g.get_deleted_count() == 0
        labs = set(int(x) for x in g.labels)
        assert 21 not in labs
        if 0 in labs:
            # doc 0's entry must be the NEW vector, and the OLD vector
            # must not appear anywhere in the blob's matrix
            import numpy as _np

            assert not _np.isclose(
                _np.asarray(g.vecs, dtype=_np.float64) @ old_vec0, 1.0,
                atol=1e-9,
            ).any()
    after = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )
    assert after == before and after
    # epoch stamps preserved: a bound at the old stamp still serves
    ann_hnsw.read_celled_hnsw_index(spark, path, up_to_batch=6)
    # second purge is a no-op
    assert ann_hnsw.purge_graph_tombstones(
        spark, path, resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
    ) == []
    resolved.unpersist()


def test_purge_truncates_history_so_no_snapshot_holds_purged_bytes(
    spark, tmp_path, corpus_mat
):
    """r14: bounded time-travel retains superseded BLOBS, so the physical
    purge must truncate history first — otherwise a retained snapshot
    would keep serving the very vectors the purge contract removes.
    Pins: history serves the pre-delete epoch BEFORE the purge; after
    purge + one write cycle the snapshot's partition dirs are physically
    gone and the historical bound raises; current serving is unchanged;
    retention resumes afterward."""
    import glob as _glob
    import os as _os
    import pickle

    from vector_search_question_answer_api_spark.sources import cell_store as CS

    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}
    corpus = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    graphs = ann_hnsw.build_celled_hnsw(
        corpus, centroids=CENTS, dim=DIM, n_cells=N_CELLS
    )
    ann_hnsw.write_celled_hnsw_index_managed(
        graphs,
        path,
        ids=corpus.select(
            "doc_id",
            assign_cell(F.col("norm_embedding"), CENTS).alias("cell"),
        ),
        batch_id=0,
        history_keep=2,
    )
    # batch 1 deletes doc 21 — the snapshot now holds its vector
    delta = _tombstones(spark, [21])
    live.pop(21, None)
    resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)]).cache()
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS, batch_id=1,
    )
    man = CS.cell_store_manifest(path)
    assert [s["batch"] for s in man["history"]] == [0]
    # partition dirs referenced ONLY by the snapshot (the superseded
    # versions of the cells the batch-1 refresh rewrote)
    snap_dirs = [
        _os.path.join(path, gen, f"cell={c}")
        for c, gen in man["history"][0]["cells"].items()
        if man["cells"].get(c) != gen
    ]
    assert snap_dirs
    # the epoch-0 snapshot still physically holds doc 21's entry — the
    # bytes the purge contract must not leave behind
    assert any(
        21 in {int(x) for x in pickle.loads(bytes(row["graph"])).labels}
        for row in CS.open_cell_table(spark, path, up_to_batch=0).collect()
    )
    q = _queries(resolved)
    before = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )
    purged = ann_hnsw.purge_graph_tombstones(
        spark, path, resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
    )
    assert purged
    man2 = CS.cell_store_manifest(path)
    assert "history" not in man2 and man2["history_keep"] == 2
    with pytest.raises(ValueError, match="retained horizon"):
        CS.open_cell_table(spark, path, up_to_batch=0)
    # serving unchanged, and NO live blob anywhere on disk still carries
    # doc 21 after one more write cycle grace-deletes the retired dirs
    after = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )
    assert after == before and after
    upd = {0: _vecs(29, 1)[0]}
    live.update(upd)
    resolved2 = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved2,
        _df(spark, sorted(upd), [upd[i] for i in sorted(upd)]),
        centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        batch_id=2,
    )
    for d in snap_dirs:
        assert not _os.path.isdir(d), d
    for row in CS.open_cell_table(spark, path).collect():
        labs = {
            int(x) for x in pickle.loads(bytes(row["graph"])).labels
        }
        assert 21 not in labs
    # retention resumed at the batch-2 refresh
    assert [
        s["batch"] for s in CS.cell_store_manifest(path)["history"]
    ] == [1]
    resolved.unpersist()


def test_same_batch_upsert_and_delete_serves_resolved_state(
    spark, tmp_path, corpus_mat, monkeypatch
):
    """r15 (VERDICT r14 What's wrong #1): ONE micro-batch carrying an add
    AND a tombstone for the same doc.  The resolved view's tombstone-
    first/latest-ts rule says DELETED; the incremental mark-then-insert
    would let the add win — so the mixed batch must trip the intra-batch
    duplicate census and fall back to the resolved-view rebuild.  Pins:
    (a) graph-tier serving ≡ a from-scratch rebuild over the resolved
    corpus (the doc is absent — a distance-~0 query for its NEW vector
    does not return it); (b) the membership sidecar drops the doc;
    (c) MUTATION — re-introducing the adds-only census (un-unioning the
    tombstone rows via the _census_gids seam) makes the same pin FAIL,
    proving the serving-equality check has teeth."""
    doc = 5
    newvec = _vecs(91, 1)

    def _mixed_batch(spark):
        add = _df(spark, [doc], newvec)
        return add.unionByName(_tombstones(spark, [doc]))

    def _run(path):
        live = {i: corpus_mat[i] for i in range(300)}
        _init_store(
            spark, _df(spark, sorted(live), [live[i] for i in sorted(live)]),
            path,
        )
        live.pop(doc, None)  # tombstone-first: the delete wins
        resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)])
        ann_hnsw.refresh_celled_hnsw_index(
            spark, path, resolved, _mixed_batch(spark), centroids=CENTS,
            dim=DIM, n_cells=N_CELLS,
        )
        # query with the ADD's vector: a store serving the dead doc
        # returns it at distance ~0 and rank 1
        q = spark.createDataFrame(
            [(0, [float(x) for x in newvec[0]])],
            "query_id long, qvec array<double>",
        )
        maintained = _serving(
            spark, ann_hnsw.read_celled_hnsw_index(spark, path), q,
            len(live), k=1,
        )
        rebuilt = _serving(
            spark,
            ann_hnsw.build_celled_hnsw(
                resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
            ),
            q, len(live), k=1,
        )
        sidecar_ids = {
            int(r["doc_id"])
            for r in open_cell_table(spark, str(path) + "/ids").collect()
        }
        return maintained, rebuilt, sidecar_ids

    maintained, rebuilt, sidecar_ids = _run(str(tmp_path / "fixed"))
    assert maintained == rebuilt and maintained
    assert doc not in {d for d, _ in maintained.values()}
    assert doc not in sidecar_ids

    # mutation: the pre-r15 adds-only census — the mixed batch slips
    # past the duplicate check, the incremental path lets the add win,
    # and the pin above MUST flag the divergence
    monkeypatch.setattr(
        ann_hnsw,
        "_census_gids",
        lambda delta, id_col: delta.filter(
            F.col("norm_embedding").isNotNull()
        ).select(F.col(id_col).alias("doc_id")),
    )
    m2, r2, side2 = _run(str(tmp_path / "mutated"))
    assert m2 != r2, (
        "adds-only census mutation not detected — the mixed-batch pin "
        "has no teeth"
    )
    assert doc in {d for d, _ in m2.values()}, (
        "mutation should serve the tombstoned doc at rank 1"
    )


def test_radii_history_serves_pruned_tier_at_retained_epochs(
    spark, tmp_path, corpus_mat
):
    """r15 (closes the ADVICE r14 radii trap as a capability): the radii
    sidecar snapshots in LOCKSTEP with the graph store's history_keep
    retention, so the PRUNED tier is epoch-exact at every retained epoch
    — ``read_cell_radii(path, up_to_batch=B)`` paired with
    ``read_celled_hnsw_index(..., up_to_batch=B)``.  The soak includes a
    DELETION of a cell's farthest member, the exact hazard: the
    maintained current radius SHRINKS below the old epoch's live set, so
    current radii at an old epoch would skip cells holding true top-k
    members.  Pins: (a) pruned@B == unpruned@B == from-scratch rebuild
    over the corpus-at-B, for the current and every retained epoch;
    (b) snapshots trim with history_keep and the below-horizon bound
    raises; (c) an unstamped sidecar refuses a bound;
    (d) purge_graph_tombstones drops the radii history with the graph
    history it pairs with."""
    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}

    def _corpus():
        return _df(spark, sorted(live), [live[i] for i in sorted(live)])

    corpus = _corpus()
    graphs0 = ann_hnsw.build_celled_hnsw(
        corpus, centroids=CENTS, dim=DIM, n_cells=N_CELLS
    )
    from vector_search_question_answer_api_spark.operators.ivf import (
        assign_cell as _ac,
    )

    ann_hnsw.write_celled_hnsw_index_managed(
        graphs0, path,
        ids=corpus.select(
            "doc_id", _ac(F.col("norm_embedding"), CENTS).alias("cell")
        ),
        batch_id=0, history_keep=2,
    )
    ann_hnsw.write_cell_radii(
        path, ann_hnsw.cell_radii(corpus, centroids=CENTS, dim=DIM,
                                  n_cells=N_CELLS),
        batch_id=0,
    )
    states = {0: dict(live)}

    # batch 1: delete the farthest-from-centroid member of its cell —
    # the tighten SHRINKS that cell's current radius below epoch 0's
    chords = {
        i: float(np.linalg.norm(v - CENTS[int(np.argmin(
            ((np.asarray(CENTS) - v) ** 2).sum(axis=1)))]))
        for i, v in list(live.items())[:50]
    }
    victim = max(chords, key=chords.get)
    live.pop(victim)
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, _corpus(), _tombstones(spark, [victim]),
        centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        batch_id=1,
    )
    states[1] = dict(live)
    # batch 2: updates
    upd = dict(zip(range(100, 110), _vecs(61, 10)))
    live.update(upd)
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, _corpus(),
        _df(spark, sorted(upd), [upd[i] for i in sorted(upd)]),
        centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        batch_id=2,
    )
    states[2] = dict(live)

    def _rel(df):
        return {
            (int(r["query_id"]), int(r["rank"])): (
                int(r["doc_id"]), round(float(r["distance"]), 9)
            )
            for r in df.collect()
        }

    for b, state in states.items():
        sb = _df(spark, sorted(state), [state[i] for i in sorted(state)])
        q = _queries(sb)
        ef = len(state) + 8
        graphs_b = ann_hnsw.read_celled_hnsw_index(spark, path, up_to_batch=b)
        radii_b = ann_hnsw.read_cell_radii(path, up_to_batch=b)
        pruned = _rel(
            ann_hnsw.celled_hnsw_topk_pruned(
                graphs_b, q, radii_b, centroids=CENTS, k=5, ef=ef, dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS,
            )
        )
        unpruned = _rel(
            ann_hnsw.celled_hnsw_topk_cogrouped(
                graphs_b, q, centroids=CENTS, k=5, ef=ef, dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS,
            )
        )
        rebuilt = _rel(
            ann_hnsw.celled_hnsw_topk_cogrouped(
                ann_hnsw.build_celled_hnsw(
                    sb, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
                ),
                q, centroids=CENTS, k=5, ef=ef, dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS,
            )
        )
        assert pruned == unpruned == rebuilt and pruned, f"epoch {b}"
    # retention trims in lockstep: batch 3 pushes snapshot 2, drops 0
    upd3 = {0: _vecs(62, 1)[0]}
    live.update(upd3)
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, _corpus(),
        _df(spark, sorted(upd3), [upd3[i] for i in sorted(upd3)]),
        centroids=CENTS, dim=DIM, n_cells=N_CELLS,
        batch_id=3,
    )
    doc = ann_hnsw._read_radii_doc(path)
    assert [int(s["batch"]) for s in doc["history"]] == [1, 2]
    with pytest.raises(ValueError, match="retained horizon"):
        ann_hnsw.read_cell_radii(path, up_to_batch=0)
    # unstamped sidecar refuses a bound
    other = str(tmp_path / "flat")
    ann_hnsw.write_cell_radii(other, [0.5] * N_CELLS)
    with pytest.raises(ValueError, match="not[\\s\\S]*epoch-stamped"):
        ann_hnsw.read_cell_radii(other, up_to_batch=1)
    # purge drops the radii history with the graph history
    resolved = _corpus()
    ann_hnsw.purge_graph_tombstones(
        spark, path, resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS,
    )
    doc = ann_hnsw._read_radii_doc(path)
    assert doc["history"] == [] and doc["batch"] is not None
    with pytest.raises(ValueError, match="retained horizon"):
        ann_hnsw.read_cell_radii(path, up_to_batch=1)
    assert ann_hnsw.read_cell_radii(path)  # current still serves


def test_insert_efc_override_is_nonsticky_and_liveset_exact(
    spark, tmp_path, corpus_mat
):
    """r14 (VERDICT r13 next #6): the maintenance-time insert beam.
    (a) serving equivalence is UNCHANGED by a narrow insert beam — the
    live set equals a from-scratch rebuild at exhaustive ef (beam width
    shapes walk quality, never membership); (b) the override is
    per-refresh: surviving blobs keep their build-time efc; (c) the
    sizing rule's pinned values match the measured curve's knee."""
    import pickle

    from vector_search_question_answer_api_spark.sources import cell_store as CS

    path = str(tmp_path / "graphs")
    live = {i: corpus_mat[i] for i in range(300)}
    corpus = _df(spark, sorted(live), [live[i] for i in sorted(live)])
    _init_store(spark, corpus, path)
    upd = dict(zip(range(0, 40, 2), _vecs(17, 20)))
    live.update(upd)
    delta = _df(spark, sorted(upd), [upd[i] for i in sorted(upd)])
    resolved = _df(spark, sorted(live), [live[i] for i in sorted(live)]).cache()
    ann_hnsw.refresh_celled_hnsw_index(
        spark, path, resolved, delta, centroids=CENTS, dim=DIM,
        n_cells=N_CELLS, insert_efc=32,
    )
    q = _queries(resolved)
    got = _serving(
        spark, ann_hnsw.read_celled_hnsw_index(spark, path), q, len(live)
    )
    rebuilt = ann_hnsw.build_celled_hnsw(
        resolved, centroids=CENTS, dim=DIM, n_cells=N_CELLS
    )
    want = _serving(spark, rebuilt, q, len(live))
    assert got == want and got
    # non-sticky: every surviving blob still carries the build efc
    for row in CS.open_cell_table(spark, path).collect():
        g = pickle.loads(bytes(row["graph"]))
        assert g.efc == 200
    resolved.unpersist()

    # the sizing rule, pinned to the measured curve's knee
    assert ann_hnsw.recommended_insert_efc() == 100  # 2x serve_ef=50, <=1%
    assert ann_hnsw.recommended_insert_efc(max_recall_loss=0.05) == 50
    assert ann_hnsw.recommended_insert_efc(max_recall_loss=0.001) == 200
    assert ann_hnsw.recommended_insert_efc(serve_ef=4) == 16   # floor
    assert ann_hnsw.recommended_insert_efc(serve_ef=500) == 200  # cap
