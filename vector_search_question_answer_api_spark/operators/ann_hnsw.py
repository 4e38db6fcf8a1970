"""Approx tier B: partitioned HNSW (SURVEY.md §2.4 V3/V4 "Approx tier B").

The reference holds ONE hnswlib graph in process memory
(services/index_service.py:87-96: cosine space, M=16, ef_construction=200,
search ef=50).  That design cannot shard; the Spark-native generalization
keeps the graph idea but makes it per-partition:

- BUILD: ``applyInPandas`` over hash-partitioned vectors builds one small
  HNSW graph per partition and emits it as a serialized binary row —
  the "index" is a table of (partition_id, graph_blob, ids).
- QUERY: broadcast the query matrix; each partition deserializes its graph
  once per task, answers top-k locally (graph walk, ef=50), and emits
  ≤ queries × k candidates; a global window merge keeps the true top-k —
  identical merge shape to ``knn_exact_partitioned``, so the shuffle is
  candidates-only, never the corpus.
- Recall: each partition answers exactly over its shard, so the merge loses
  nothing the per-partition graphs didn't; recall equals single-graph HNSW
  recall at the same ef.

Serving shapes (one graph walk, :func:`_walk_graph`, under both):

- ``hnsw_topk``: the flat tier — the query matrix is collected once and
  closed over (queries ≪ corpus, bounded by contract);
- ``celled_hnsw_topk_cogrouped`` (r6): batches of ANY size — the query
  relation is routed to cells map-side and COGROUPED with the graphs,
  never collected to the driver.

Every graph is a :class:`operators.hnsw_numpy.NumpyHNSW` (r5), a
from-scratch implementation of the HNSW algorithm itself — hierarchical
layers, greedy descent, ef-bounded beam search, bidirectional M-links —
so the tier runs everywhere, and a stored blob is that object pickled.
"""

from __future__ import annotations

import os
import pickle
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW
from vector_search_question_answer_api_spark.operators.search import ranked_topk


def _resolve_centroids_dim(centroids, dim, n_cells):
    """Resolve the (centroids, dim) pair every celled API needs: default
    grid centroids at the requested (or legacy 64) width, then take the
    authoritative ``dim`` from the artifact — an explicit ``dim`` that
    disagrees with it raises instead of silently mis-initializing the
    per-cell graphs / truncating routing dots (see pq._resolve_dim)."""
    from vector_search_question_answer_api_spark.operators.ivf import centroid_grid

    if centroids is None:
        centroids = centroid_grid(64 if dim is None else dim, n_cells)
    if dim is None:
        dim = len(centroids[0])
    elif dim != len(centroids[0]):
        raise ValueError(
            f"dim={dim} inconsistent with centroids dim {len(centroids[0])}"
        )
    return centroids, dim


def build_partitioned_hnsw(
    index: DataFrame,
    dim: int | None = None,
    m: int = 16,
    ef_construction: int = 200,
    vec_col: str = "norm_embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """(n, graph): one serialized HNSW graph per partition.  Reference
    build constants preserved (M=16, ef_construction=200,
    services/index_service.py:89-92).  ``dim`` defaults to the data's own
    width."""
    if dim is None:
        dim = len(index.select(vec_col).first()[0])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids: list[int] = []
        mats: list[np.ndarray] = []
        for pdf in batches:
            if pdf.empty:
                continue
            ids.extend(int(x) for x in pdf[id_col])
            mats.append(np.array(list(pdf[vec_col]), dtype=np.float32))
        if not ids:
            return
        g = NumpyHNSW(dim, m=m, ef_construction=ef_construction)
        g.add_items(np.vstack(mats), np.asarray(ids, dtype=np.int64))
        yield pd.DataFrame(
            {
                "n": [len(ids)],
                "graph": [pickle.dumps(g)],
            }
        )

    return index.select(id_col, vec_col).mapInPandas(
        build, schema="n long, graph binary"
    )


def build_celled_hnsw(
    index: DataFrame,
    centroids=None,
    dim: int | None = None,
    n_cells: int = 16,
    m: int = 16,
    ef_construction: int = 200,
    vec_col: str = "norm_embedding",
    id_col: str = "doc_id",
    cell_salts: int = 1,
) -> DataFrame:
    """(cell, n, graph): one HNSW graph per IVF coarse cell — the
    composed graph-ANN layout for scale (r5).  ``hnsw_topk``'s flat
    partitioned form walks EVERY partition's graph for every query; here
    the coarse quantizer routes each query to its ``nprobe`` best cells
    (``celled_hnsw_topk_cogrouped``) so only those cells' graphs are
    walked — the same coarse-prune × local-index multiply as IVFPQ, with
    a graph walk instead of ADC codes inside the cell.  Cell graph sizes are bounded
    by the same rule as every IVF layout: pick n_cells so corpus/n_cells
    fits one task.

    ``cell_salts`` (r6, the hot-cell lever): real corpora are Zipfian
    across cells, and a dominant cell would otherwise become one giant
    build task + one giant graph blob.  With salts, each cell shards
    into ``cell_salts`` independent graphs (deterministic
    ``doc_id % cell_salts``), emitted as multiple rows with the SAME
    cell key — the walkers iterate every graph row of a probed cell, so
    query routing, results, and recall are unchanged (the shards
    partition the cell exactly; within-cell exhaustiveness is a union
    over shards).  Per-task memory drops by the salt factor."""
    from vector_search_question_answer_api_spark.operators.ivf import assign_cell

    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)
    assigned = index.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("nv"),
        assign_cell(F.col(vec_col), centroids).alias("cell"),
        (F.col(id_col) % F.lit(max(int(cell_salts), 1))).alias("_salt"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.asarray(pdf["doc_id"], dtype=np.int64)
        cell = int(pdf["cell"].iloc[0])
        # float64 end-to-end: the graph's distances then match the
        # engine's HOF doubles to ~1e-15, so the ef>=cell-size walk
        # reproduces ivf_topk within rounding (pinned in tests)
        mat64 = np.array(list(pdf["nv"]), dtype=np.float64)
        g = NumpyHNSW(dim, m=m, ef_construction=ef_construction)
        g.add_items(mat64, ids)
        cent = np.asarray(centroids[cell], dtype=np.float64)
        r = float(np.sqrt(((mat64 - cent) ** 2).sum(axis=1).max()))
        return pd.DataFrame(
            {
                "cell": [cell],
                "n": [len(ids)],
                "n_dead": [0],
                "r": [r],
                "graph": [pickle.dumps(g)],
            }
        )

    # n = LIVE entries, n_dead = tombstoned entries (0 at build time —
    # only the incremental refresh marks deletions; see
    # refresh_celled_hnsw_index).  r = the blob's exact chord radius
    # (max ||y - c_cell|| over its live members).  Together they let the
    # next refresh read per-cell dead fractions AND maintain the pruning
    # radii sidecar from the tiny metadata columns, without touching
    # blobs or scanning the corpus.
    return assigned.groupBy("cell", "_salt").applyInPandas(
        build, schema="cell int, n long, n_dead long, r double, graph binary"
    )


def write_celled_hnsw_index_managed(
    graphs: DataFrame,
    path: str,
    ids: DataFrame | None = None,
    batch_id: "int | None" = None,
    history_keep: int = 0,
) -> None:
    """Materialize the cell-routed graph index under the managed cell
    store (``sources/cell_store``): ``(n, n_dead, r, graph)`` rows
    partitioned by ``cell`` — the cell directories ARE the coarse index
    (the same layout rule as ``pq.write_ivfpq_index``), one serialized
    graph blob per cell, so a query batch lists and reads only its probed
    cells' directories; blobs round-trip byte-identically through parquet
    binary columns.  A per-cell MANIFEST lets later upsert batches
    re-build ONLY their dirty cells' graphs
    (:func:`refresh_celled_hnsw_index`) instead of the reference's
    whole-graph rebuild (services/index_service.py:112-115).
    ``read_celled_hnsw_index`` serves it.

    ``ids`` (optional, ``(doc_id, cell)`` rows for the SAME corpus the
    graphs were built from) seeds the membership SIDECAR at
    ``<path>/ids`` — the durable pre-upsert record of which cell each doc
    currently lives in.  The graph blobs are opaque, so without the
    sidecar an upsert that MOVES a doc between cells can only dirty the
    old cell via caller-supplied ``prev_delta`` — state that is NOT
    replay-safe when recomputed from a view the crashed attempt already
    appended to (ADVICE r7).  With the sidecar, the old cells come from
    the store itself (the same recovery ``pq.refresh_ivfpq_index`` gets
    from its codes rows) and checkpoint replays converge.

    ``history_keep=K`` (r14 — VERDICT r13 missing #1): retain the K most
    recent superseded per-cell GRAPH snapshots so bounded reads
    (``read_celled_hnsw_index(up_to_batch=B)``) serve recent historical
    epochs instead of raising; refreshes inherit the setting.  The ids
    SIDECAR stays single-version — it is maintenance state (old-cell
    recovery), never a serving surface, so snapshotting it would buy
    nothing.  NOTE ``purge_graph_tombstones`` truncates graph history:
    its contract is physical byte removal, which retained snapshots
    would violate."""
    from vector_search_question_answer_api_spark.sources.cell_store import (
        cell_store_write_full,
    )

    # Sidecar FIRST, graphs second (ADVICE r8): init-completeness is gated
    # on the GRAPHS manifest (that is what maintain_corpus checks before
    # skipping re-init), so a crash between the two writes must leave the
    # graphs manifest absent.  Sidecar-then-graphs achieves that — the next
    # batch re-initializes both and the fresh full write supersedes the
    # stale sidecar.  The old order (graphs first) left a manifest-complete
    # graph store with NO sidecar, which silently and permanently fell back
    # to the non-replay-safe prev_delta path.
    if ids is not None:
        cell_store_write_full(
            ids.select("doc_id", "cell"), os.path.join(path, "ids")
        )
    cell_store_write_full(
        graphs, path, batch_id=batch_id, history_keep=history_keep
    )


def _blob_live_radius(g, cent: np.ndarray) -> float:
    """Exact chord radius over the blob's LIVE members, computed from the
    vectors the graph already holds (r13 — replaces the resolved-view
    ``cell_radii`` scan in the refresh path).  NumpyHNSW stores float64
    vectors, so this matches the Spark-HOF chord arithmetic to ~1e-15."""
    if g.vecs is None or g.get_live_count() == 0:
        return 0.0
    mask = np.ones(len(g.links), dtype=bool)
    for i in g._dead_set():
        mask[int(i)] = False
    vecs = np.asarray(g.vecs, dtype=np.float64)[mask]
    return float(np.sqrt(((vecs - cent) ** 2).sum(axis=1).max()))


def _incr_apply(
    key, gpdf: pd.DataFrame, fpdf: pd.DataFrame, centroids=None,
    insert_efc: "int | None" = None,
) -> pd.DataFrame:
    """Per-cell INCREMENTAL graph update (one cogroup task = one cell):
    mark every batch doc_id dead in EVERY blob of the cell (kills the old
    entry of an update, the entry of a delete, and — idempotence — any
    entry a crashed replay already inserted), then insert the batch's new
    vectors into ONE deterministically-chosen blob (fewest live entries,
    sha1-of-bytes tiebreak — cogroup row order is not stable).  Emits the
    cell's full new blob set; serving live-set equals a from-scratch
    rebuild of the resolved cell (pinned in tests at exhaustive ef)."""
    import hashlib as _hl

    if gpdf.empty:
        # classification guarantees existing blobs for incremental cells,
        # so an empty graph side means the feed raced a manifest change.
        # Raise (r15, VERDICT r14 What's wrong #3): emitting nothing
        # would make cell_store_refresh DROP the cell from the manifest —
        # silently unserving its live docs — loud beats silently wrong.
        # Aborting the batch leaves the previous generation serving; a
        # checkpoint replay re-classifies against the new manifest and
        # lands cleanly.
        batch_cells = (
            sorted({int(x) for x in fpdf["cell"]}) if not fpdf.empty else []
        )
        raise RuntimeError(
            f"incremental refresh found no existing graph blobs for cell(s)"
            f" {batch_cells} that classification marked incremental — the"
            " feed raced a manifest change; re-run the refresh (a replay"
            " reclassifies against the current manifest)"
        )
    cell = int(gpdf["cell"].iloc[0])
    blobs = [bytes(b) for b in gpdf["graph"]]
    order = sorted(
        range(len(blobs)),
        key=lambda i: (int(gpdf["n"].iloc[i]), _hl.sha1(blobs[i]).hexdigest()),
    )
    gs = [pickle.loads(blobs[i]) for i in order]
    labels_all = sorted({int(x) for x in fpdf["doc_id"]}) if not fpdf.empty else []
    adds = (
        fpdf[fpdf["nv"].notna()].sort_values("doc_id")
        if not fpdf.empty
        else fpdf
    )
    for g in gs:
        for lab in labels_all:
            g.mark_deleted(lab)
    if len(adds):
        g = gs[min(range(len(gs)), key=lambda i: (gs[i].get_live_count(), i))]
        labs = np.asarray(adds["doc_id"], dtype=np.int64)
        mat = np.array(list(adds["nv"]), dtype=np.float64)
        if insert_efc is not None:
            # maintenance-time beam override (r14, measured curve in
            # SCALE.md): the blob keeps its BUILD-time efc — restored
            # before pickling so the knob is per-refresh, not sticky
            build_efc = g.efc
            g.efc = int(insert_efc)
            try:
                g.add_items(mat, labs)
            finally:
                g.efc = build_efc
        else:
            g.add_items(mat, labs)
    cent = np.asarray(centroids[cell], dtype=np.float64)
    rows = {"cell": [], "n": [], "n_dead": [], "r": [], "graph": []}
    for g in gs:
        rows["cell"].append(cell)
        rows["n"].append(g.get_live_count())
        rows["n_dead"].append(g.get_deleted_count())
        rows["r"].append(_blob_live_radius(g, cent))
        rows["graph"].append(pickle.dumps(g))
    return pd.DataFrame(rows)


def _census_gids(delta: DataFrame, id_col: str) -> DataFrame:
    """Doc_ids feeding the global intra-batch-duplicate check ('g' census
    rows) in :func:`refresh_celled_hnsw_index`: ALL delta rows — adds AND
    null-vector tombstones (r15, VERDICT r14 What's wrong #1).  Counting
    adds only let a batch carrying an add and a tombstone for ONE doc slip
    past the check and take the incremental path, whose mark-then-insert
    always lets the add win while the resolved view's tombstone-first/
    latest-ts rule resolves the doc to DELETED — the stores then served a
    doc the index said was gone, indefinitely.  Kept as a named seam so
    the mixed-batch pin's mutation test can re-introduce the adds-only
    bug and prove the serving-equality check catches it."""
    return delta.select(F.col(id_col).alias("doc_id"))


def refresh_celled_hnsw_index(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    delta: DataFrame,
    prev_delta: DataFrame | None = None,
    centroids=None,
    dim: int | None = None,
    n_cells: int = 16,
    m: int = 16,
    ef_construction: int = 200,
    vec_col: str = "norm_embedding",
    id_col: str = "doc_id",
    cell_salts: int = 1,
    max_dead_frac: float = 0.2,
    incremental: bool = True,
    batch_id: "int | None" = None,
    insert_efc: "int | None" = None,
    _pre_publish_hook=None,
) -> list[int]:
    """Incrementally refresh a MANAGED celled-graph store after an upsert
    batch: INSERT into the dirty cells' existing graphs where possible
    (r13 — VERDICT r12 What's wrong #1: per-dirty-cell graph REBUILD was
    ~70% of every maintenance micro-batch), re-build only where
    insertion is unsound, and atomically swap the touched manifest
    entries (grace-period retirement of the superseded blob partitions).

    Per-cell classification (driver-side, from three O(n_cells) aggs —
    the batch's adds per cell, the sidecar's removals per cell, and the
    store's own (n, n_dead) columns; blobs are never read for this):

    - **incremental** (the default for sidecar-backed stores): the cell's
      existing blobs absorb the batch — every batch doc_id is
      ``mark_deleted`` (old entry of an update, entry of a delete,
      replay idempotence) and new vectors are inserted
      (``NumpyHNSW.add_items`` builds by sequential insert).  Dead nodes
      stay as graph CONNECTORS and are filtered from level-0 results
      (hnswlib's ``markDelete`` discipline), so tombstones never poison
      the neighborhoods they stitch.
    - **rebuild** when insertion is unsound or no longer worth it: no
      membership sidecar (old-cell evidence would not be replay-safe),
      cells only known dirty via ``prev_delta`` (same reason), cells
      with no existing blobs (fresh/emptied — the "rebuild" IS the
      insert), and cells whose predicted dead fraction after this batch
      exceeds ``max_dead_frac`` — the walk-efficiency backstop that
      bounds how much tombstone mass a blob can accumulate before it is
      rebuilt clean from the resolved view.

    Serving equivalence is exact on the LIVE set: an incrementally
    maintained cell answers exhaustive-ef queries identically to a
    from-scratch rebuild of its resolved membership (pinned in tests on
    an upsert/delete soak).  ``incremental=False`` forces the pre-r13
    rebuild-everything behavior.

    ``index`` is the POST-upsert source of truth; ``delta`` the upserted
    rows' NEW state.  Dirty = cells of the delta's new vectors ∪ the
    cells those doc_ids CURRENTLY live in — the second set catches
    updates that MOVE a doc between cells, whose old graph must be
    rebuilt without the stale entry.  The graph blobs are opaque, so old
    cells come from the ``<path>/ids`` membership SIDECAR when the store
    has one (see :func:`write_celled_hnsw_index_managed` — durable, so
    checkpoint replays of a half-finished batch still dirty the true old
    cell; ADVICE r7), else from caller-supplied ``prev_delta`` (the
    PRE-upsert resolved view semi-joined on the batch ids — correct only
    when that snapshot really predates the upsert).  Omitting both is
    only sound for insert-only batches.  The sidecar's dirty cells are
    rewritten AFTER the graph publish, so a crash between the two replays
    with the pre-upsert membership intact.  Driver state stays
    O(n_cells).  Returns the dirty cells.

    A store carrying a :func:`write_cell_radii` pruning sidecar (r11) has
    its dirty cells' radii recomputed and re-published in the same
    refresh — stale radii are a CORRECTNESS bug for the lossless pruned
    tier, not a freshness bug (see the inline note) — via
    widen-publish-tighten so every crash window stays covered.

    ``insert_efc`` (r14 — VERDICT r13 next #6): maintenance-time beam
    width for the per-row INSERT searches, overriding the blob's
    build-time ``efc`` for this refresh only.  The insert path's cost
    is ~``insert_efc`` beam searches per row, so this is the maintenance
    throughput lever; the measured recall-vs-efc curve and the
    ``recommended_insert_efc`` rule live in SCALE.md
    (measurements/r14_insert_efc_curve.json)."""
    from vector_search_question_answer_api_spark.operators.ivf import assign_cell
    from vector_search_question_answer_api_spark.sources.cell_store import (
        cell_store_manifest,
        cell_store_refresh,
        open_cell_table,
    )

    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)

    # tombstone rows (null vector = deletion, index_stream.tombstones)
    # have no NEW cell; their doc_ids still reach the sidecar old-cell
    # lookup below, so the deleted doc's cell is refreshed without it.
    # ONE driver round-trip for the whole dirty set (VERDICT r8, What's
    # wrong #3): delta cells ∪ prev_delta cells ∪ sidecar old cells.
    # r13 splits the single distinct-collect into per-cell COUNT aggs —
    # still ≤ n_cells rows each, all driver-bounded — because the
    # incremental/rebuild classification needs the counts, not just the
    # cell ids: adds per cell (batch-sized agg), removals per cell (the
    # same sidecar semi-join as before, grouped), and the store's own
    # (n, n_dead) per cell (a column-pruned scan of the tiny
    # metadata columns — graph blobs are never read for this).
    adds_df = delta.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
        assign_cell(F.col(vec_col), centroids).alias("cell"),
    )
    ids_path = os.path.join(path, "ids")
    has_sidecar = cell_store_manifest(ids_path) is not None
    removal_rows = None
    # ONE job for the whole per-cell (adds, removals, prev) census: the
    # relations union into a tagged count agg and collect together
    # (≤ 3*n_cells + 1 rows) — job overhead, not data size, dominates
    # these tiny aggs at micro-batch scale.  The cell=-1 "g" row is the
    # GLOBAL intra-batch duplicate check: a batch carrying two versions
    # of one doc has no ts here to order them, so the incremental path
    # (which inserts delta rows verbatim) cannot know the winner — such
    # batches fall back to rebuild-from-resolved, which dedupes by the
    # index log's own latest-wins rule.  The 'g' rows come from ALL
    # delta doc_ids — adds AND null-vector tombstones (r15, VERDICT r14
    # What's wrong #1): an add+tombstone pair for one doc in one batch
    # is exactly the no-winner case (the resolved view's tombstone-
    # first/latest-ts rule decides, which the incremental mark-then-
    # insert cannot reproduce), so it must trip the fallback too.  A
    # batch carrying two tombstones for one doc also trips it — a false
    # positive whose only cost is a rebuild, never a wrong answer.
    # the 'a' rows also carry each add's chord to its cell centroid —
    # the radii-widen input (see the sidecar block below), computed with
    # the same HOF arithmetic as cell_radii so the widen value is
    # bit-compatible with the exact recompute
    cents_lit = V.nested_array_lit(centroids)
    _cent = F.element_at(cents_lit, F.col("cell") + 1)
    _chord = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("nv"), _cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    _nochord = F.lit(None).cast("double").alias("_chord")
    census = adds_df.select(
        "doc_id", "cell", F.lit("a").alias("_k"), _chord.alias("_chord")
    ).unionByName(
        _census_gids(delta, id_col).select(
            "doc_id", F.lit(-1).alias("cell"), F.lit("g").alias("_k"),
            _nochord,
        )
    )
    if prev_delta is not None:
        census = census.unionByName(
            prev_delta.filter(F.col(vec_col).isNotNull()).select(
                F.col(id_col).alias("doc_id"),
                assign_cell(F.col(vec_col), centroids).alias("cell"),
                F.lit("p").alias("_k"),
                _nochord,
            )
        )
    if has_sidecar:
        batch_ids = delta.select(F.col(id_col).alias("doc_id")).distinct()
        removal_rows = (
            open_cell_table(spark, ids_path)
            .join(F.broadcast(batch_ids), "doc_id", "left_semi")
            .select("doc_id", "cell")
        )
        census = census.unionByName(
            removal_rows.select(
                "doc_id", "cell", F.lit("r").alias("_k"), _nochord
            )
        )
    # r16 (guide §2.6 — fewer driver-synchronous jobs): the store's own
    # per-cell (live, dead) stats ride the SAME census job as 's'
    # rows instead of a second collect after it.  The metadata scan is
    # column-pruned (the graph blobs are never read) and covers ALL
    # cells — the dirty set isn't known yet — which only widens the
    # driver dict by n_cells rows; classification reads the same values
    # it read from the r13 two-job form ('c in stats' still means "the
    # store holds blobs for this cell").  The cost: a micro-batch with
    # nothing dirty still pays that column-pruned stats scan of every
    # cell — the accepted trade for one job fewer on every batch that
    # does refresh.
    _nolong = F.lit(None).cast("long")
    census = census.select(
        "doc_id", "cell", "_k", "_chord",
        _nolong.alias("_n"), _nolong.alias("_nd"),
    )
    want_stats = (
        incremental and has_sidecar and cell_store_manifest(path) is not None
    )
    if want_stats:
        cur = open_cell_table(spark, path)
        if "n_dead" not in cur.columns:
            cur = cur.withColumn("n_dead", F.lit(0).cast("long"))
        census = census.unionByName(
            cur.select(
                _nolong.alias("doc_id"),
                F.col("cell").cast("int").alias("cell"),
                F.lit("s").alias("_k"),
                F.lit(None).cast("double").alias("_chord"),
                F.col("n").cast("long").alias("_n"),
                F.coalesce(F.col("n_dead"), F.lit(0)).cast("long").alias(
                    "_nd"
                ),
            )
        )
    adds_per_cell: dict[int, int] = {}
    add_chord_per_cell: dict[int, float] = {}
    removals_per_cell: dict[int, int] = {}
    prev_cells: set[int] = set()
    stats: dict[int, tuple[int, int]] = {}
    intrabatch_dups = False
    for r in (
        census.groupBy("cell", "_k")
        .agg(
            F.count("*").alias("cnt"),
            F.count_distinct("doc_id").alias("dcnt"),
            F.max("_chord").alias("chord"),
            F.sum("_n").alias("sn"),
            F.sum("_nd").alias("snd"),
        )
        .collect()
    ):
        c, k, cnt = int(r["cell"]), r["_k"], int(r["cnt"])
        if k == "g":
            intrabatch_dups = cnt != int(r["dcnt"])
        elif k == "a":
            adds_per_cell[c] = cnt
            add_chord_per_cell[c] = float(r["chord"] or 0.0)
        elif k == "r":
            removals_per_cell[c] = cnt
        elif k == "s":
            stats[c] = (int(r["sn"]), int(r["snd"]))
        else:
            prev_cells.add(c)
    dirty = sorted(
        set(adds_per_cell) | set(removals_per_cell) | prev_cells
    )
    if not dirty:
        if batch_id is not None:
            # the batch is absorbed even though it changed nothing —
            # advance the frontier so epoch-exactness claims stay true
            from vector_search_question_answer_api_spark.sources.cell_store import (
                cell_store_stamp_frontier,
            )

            cell_store_stamp_frontier(path, int(batch_id))
        return []
    # --- incremental/rebuild classification (r13; stats collected with
    # the census above since r16) ---
    rebuild_cells: list[int] = []
    incr_cells: list[int] = []
    for c in dirty:
        a = adds_per_cell.get(c, 0)
        rm = removals_per_cell.get(c, 0)
        if (
            not incremental
            or intrabatch_dups
            or not has_sidecar
            or c in prev_cells
            or c not in stats
        ):
            rebuild_cells.append(c)
            continue
        live, dead_n = stats[c]
        total_after = live + dead_n + a
        # rm is an upper bound on NEW tombstones (a replayed batch can
        # re-count docs its crashed attempt already marked) — conservative:
        # overcounting only tips a cell toward rebuild, never correctness
        dead_after = dead_n + rm
        if total_after <= 0 or dead_after > max_dead_frac * total_after:
            rebuild_cells.append(c)
            continue
        incr_cells.append(c)
    # --- pruning-radii sidecar maintenance (r11) ---
    # A store carrying a write_cell_radii sidecar serves the LOSSLESS
    # pruned tier, whose guarantee REQUIRES every stored radius to cover
    # its cell's members: an upsert that lands a doc farther from its
    # centroid than the stored radius would silently break losslessness
    # (a too-small r_j overstates the lower bound and can skip a cell
    # holding a true top-k member).  So when the sidecar exists, the
    # dirty cells' radii are maintained through the refresh itself (r13:
    # no resolved-view scan).  Crash-window soundness is
    # widen-publish-tighten: BEFORE the graph publish the sidecar gets
    # max(old, batch-add chord) per dirty cell — EQUAL to max(old, exact
    # post-refresh radius), because surviving members are already covered
    # by old and the only new mass is the adds (whose chords the census
    # computed with the same HOF arithmetic as cell_radii) — a valid
    # cover for BOTH the pre- and post-publish membership, whichever a
    # crashed attempt leaves live.  The exact values (which may SHRINK
    # when a far doc moves out — tight, not just valid) publish LAST,
    # read back from the ``r`` column the graph tasks emit per blob
    # (each blob's live-member chord max — a tiny metadata read, never a
    # corpus scan).  A checkpoint replay of a crashed batch recomputes
    # the same dirty set and re-tightens, so the widened state never
    # outlives one failed attempt.  (On an intra-batch-duplicate batch
    # the widen may exceed max(old, exact) — still a valid cover; the
    # tighten restores exactness.)
    old_radii = None
    radii_stamp = None
    radii_hist: list = []
    try:
        _rdoc = _read_radii_doc(path)
        old_radii = _rdoc["radii"]
    except FileNotFoundError:
        pass  # no sidecar: the store doesn't serve the pruned tier
    if old_radii is not None:
        if len(old_radii) != len(centroids):
            raise ValueError(
                f"radii sidecar has {len(old_radii)} cells for "
                f"{len(centroids)} centroids — rebuild it with cell_radii "
                "over this layout"
            )
        # r15: evolve the radii history in LOCKSTEP with the graph
        # store's own (_evolve_history rule): a stamped refresh that
        # ADVANCES the stamp pushes the pre-refresh radii as the
        # superseded epoch's snapshot (they are the exact cover for the
        # state every epoch since that stamp saw); a same-batch rewrite
        # carries history through; an unstamped refresh drops it (the
        # epoch claims would be unanchored).  A replay that finds a
        # snapshot already recorded for the superseded stamp KEEPS the
        # existing one — the first write holds the pre-widen (tight)
        # values, the replay's candidate may be a crashed attempt's
        # widened (valid but loose) cover.
        if batch_id is not None:
            radii_stamp = int(batch_id)
            man_pre = cell_store_manifest(path)
            keep = int(man_pre.get("history_keep", 0)) if man_pre else 0
            if keep > 0 and man_pre is not None and "batch" in man_pre:
                radii_hist = list(_rdoc["history"])
                if int(batch_id) > int(man_pre["batch"]) and not any(
                    int(s["batch"]) == int(man_pre["batch"])
                    for s in radii_hist
                ):
                    radii_hist.append(
                        {
                            "batch": int(man_pre["batch"]),
                            "radii": [float(x) for x in old_radii],
                        }
                    )
                radii_hist = radii_hist[-keep:]
        dirty_set = set(dirty)
        write_cell_radii(
            path,
            tuple(
                max(old_radii[j], add_chord_per_cell.get(j, 0.0))
                if j in dirty_set
                else old_radii[j]
                for j in range(len(centroids))
            ),
            batch_id=radii_stamp,
            history=radii_hist,
        )
    parts: list[DataFrame] = []
    if rebuild_cells:
        parts.append(
            build_celled_hnsw(
                index.filter(
                    assign_cell(F.col(vec_col), centroids).isin(rebuild_cells)
                ),
                centroids=centroids, dim=dim, n_cells=n_cells, m=m,
                ef_construction=ef_construction, vec_col=vec_col,
                id_col=id_col, cell_salts=cell_salts,
            )
        )
    if incr_cells:
        # feed = the batch's rows routed to the cells they touch: adds at
        # their NEW cell, removals (deletes, and the OLD entry of every
        # update — including cell-movers) at their sidecar cell with a
        # null vector.  An in-place update contributes both rows to the
        # same cell; _incr_apply marks first, inserts second.
        feed = adds_df.filter(F.col("cell").isin(incr_cells))
        if removal_rows is not None:
            feed = feed.unionByName(
                removal_rows.filter(F.col("cell").isin(incr_cells)).select(
                    "doc_id",
                    F.lit(None).cast("array<double>").alias("nv"),
                    "cell",
                )
            )
        cur_graphs = open_cell_table(spark, path)
        if "n_dead" not in cur_graphs.columns:
            cur_graphs = cur_graphs.withColumn(
                "n_dead", F.lit(0).cast("long")
            )
        cur_graphs = cur_graphs.filter(
            F.col("cell").isin(incr_cells)
        ).select(
            "cell", "n", F.coalesce("n_dead", F.lit(0)).alias("n_dead"),
            "graph",
        )
        cents_captured = centroids
        efc_captured = insert_efc

        def _apply(key, gpdf, fpdf):
            return _incr_apply(
                key, gpdf, fpdf, centroids=cents_captured,
                insert_efc=efc_captured,
            )

        parts.append(
            cur_graphs.groupBy("cell")
            .cogroup(feed.groupBy("cell"))
            .applyInPandas(
                _apply,
                schema="cell int, n long, n_dead long, r double, "
                       "graph binary",
            )
        )
    graphs = parts[0]
    for p in parts[1:]:
        graphs = graphs.unionByName(p)
    cell_store_refresh(
        spark, path, graphs, dirty, batch_id=batch_id,
        _pre_publish_hook=_pre_publish_hook,
    )

    def _sidecar_refresh() -> None:
        # membership update LAST: a crash before this point replays with
        # the old mapping (old cell re-dirtied, refresh idempotent); after
        # it the graphs are already consistent and the replay converges
        # to the same artifact.  The new membership is derived from
        # DURABLE pre-state + the batch — (old sidecar rows of the dirty
        # cells minus the batch ids) ∪ the batch's adds — instead of
        # re-scanning the resolved index view (r13: that scan was a full
        # log-resolution job per refresh).  Exact by the same induction
        # the graph content itself relies on, and replay-deterministic:
        # a pure function of the pre-publish sidecar and the batch.
        if intrabatch_dups:
            # the batch's own rows cannot say which version won — take
            # membership from the resolved view (latest-wins), as the
            # pre-r13 path always did
            new_rows = index.select(
                F.col(id_col).alias("doc_id"),
                assign_cell(F.col(vec_col), centroids).alias("cell"),
            ).filter(F.col("cell").isin(dirty))
        else:
            surviving = (
                open_cell_table(spark, ids_path)
                .filter(F.col("cell").isin(dirty))
                .join(F.broadcast(batch_ids), "doc_id", "left_anti")
            )
            new_rows = surviving.unionByName(
                adds_df.select("doc_id", "cell").filter(
                    F.col("cell").isin(dirty)
                )
            )
        cell_store_refresh(spark, ids_path, new_rows, dirty)

    def _radii_tighten() -> None:
        # tighten LAST (see the widen-publish-tighten note above): the
        # dirty cells' exact radii come from the r column the graph tasks
        # just wrote (max over a cell's blobs); an emptied dirty cell has
        # no rows and tightens to 0.0
        new_r = {
            int(row["cell"]): float(row["r"])
            for row in open_cell_table(spark, path)
            .filter(F.col("cell").isin(dirty))
            .groupBy("cell")
            .agg(F.max("r").alias("r"))
            .collect()
        }
        dirty_set = set(dirty)
        write_cell_radii(
            path,
            tuple(
                new_r.get(j, 0.0) if j in dirty_set else old_radii[j]
                for j in range(len(centroids))
            ),
            batch_id=radii_stamp,
            history=radii_hist,
        )

    # r16 (guide §2.6): the membership-sidecar rewrite and the radii
    # tighten both depend on the graph publish above but NOT on each
    # other (disjoint artifacts: <path>/ids vs the radii doc; the tighten
    # reads only the graphs store's metadata columns).  Run them as
    # concurrent jobs.  Every crash interleaving was already possible
    # under the sequential order or is its mirror image, and each is
    # replay-safe on its own terms: a missing sidecar update re-dirties
    # the old cells (idempotent re-mark/re-insert), a missing tighten
    # leaves the widened-but-valid cover until the replay re-tightens,
    # and a tighten WITHOUT the sidecar update is still exact for the
    # published graphs (the radii cover the graphs' membership, which
    # published first either way).
    if has_sidecar and old_radii is not None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="graph-sidecar"
        ) as pool:
            fut = pool.submit(_sidecar_refresh)
            _radii_tighten()
            fut.result()
    elif has_sidecar:
        _sidecar_refresh()
    elif old_radii is not None:
        _radii_tighten()
    return dirty


def recommended_insert_efc(
    serve_ef: int = 50,
    max_recall_loss: float = 0.01,
    build_efc: int = 200,
) -> int:
    """Maintenance-time insert-beam width sized from measurement (r14 —
    VERDICT r13 next #6; the measured curve is
    ``measurements/r14_insert_efc_curve.json``, summarized in SCALE.md
    r14).

    The reference applies its BUILD constant ef_construction=200
    (services/index_service.py:91) at insert time too; the curve shows
    that is the most expensive point on a knee: on the realistic-geometry
    384-dim fixture (one graph, serving ef=50 << n — the regime a
    production cell lives in), insert beams of 2x the SERVING ef held
    recall@5 within 0.1% overall and 0.7% on inserted-row queries at
    1.7x the per-row maintenance throughput of efc=200; beams equal to
    the serving ef held within 0.6% / 3.6% at 2.4x.  Soak-shaped
    insertion (5 sequential waves) showed no cumulative degradation
    beyond the single-wave loss.

    Rule: 2x ``serve_ef`` for a <=1% recall budget, 1x for a looser
    <=5% budget, the build constant when the caller wants effectively
    zero loss — clamped to [16, build_efc].  Measured at serve_ef=50;
    the proportionality to serving breadth (not to the build constant)
    is the modeled half — the beam only needs to find neighbors the
    SERVING beam can later exploit — so re-run the tool if your serving
    ef is far from the measured point.  Advisory like every
    ``recommended_*`` rule: the ``insert_efc`` default stays None
    (build-time efc), no serving default changes under a caller."""
    if max_recall_loss < 0.005:
        return int(build_efc)
    eff = int(serve_ef) if max_recall_loss >= 0.04 else 2 * int(serve_ef)
    return max(16, min(int(build_efc), eff))


def purge_graph_tombstones(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    centroids=None,
    dim: int | None = None,
    n_cells: int = 16,
    m: int = 16,
    ef_construction: int = 200,
    vec_col: str = "norm_embedding",
    id_col: str = "doc_id",
    cell_salts: int = 1,
) -> list[int]:
    """QUIESCED physical purge of tombstone mass from a managed graph
    store (r13 — the right-to-be-forgotten verb for the one artifact the
    incremental refresh leaves holding deleted/superseded VECTORS: a
    mark-deleted node stops serving immediately, but its embedding stays
    inside the blob as a traversal connector until the dead-fraction
    backstop happens to rebuild that cell).  Rebuilds every cell whose
    metadata shows dead mass (``n_dead > 0`` — a column-pruned read,
    blobs untouched for the scan) from the resolved ``index``, so after
    the NEXT write's grace deletion no surviving blob contains a purged
    vector.  The live set — and therefore serving, the membership
    sidecar, and the radii sidecar — is UNCHANGED, so the store's epoch
    stamps are preserved (the same discipline as ``cell_store_compact``).
    Returns the purged cells.  QUIESCED: no concurrent ``maintain_corpus``
    batch may run (the ``purge_docs_versions`` contract) — and (r15,
    ADVICE r14) no concurrent HISTORICAL reader either: the history
    truncation below retires snapshot partition dirs that the refresh in
    this same verb then grace-deletes, so a bounded-epoch reader's
    lazily-executed plan gets ZERO grace cycles (the store's usual
    one-write-cycle grace covers current-epoch readers only; here the
    whole point is that the purged bytes must not outlive the verb —
    deferring deletion for a reader's convenience would contradict the
    right-to-be-forgotten contract).  Current-epoch readers keep the
    normal guarantee: the live set is unchanged and superseded current
    partitions get the standard grace cycle."""
    from vector_search_question_answer_api_spark.operators.ivf import assign_cell
    from vector_search_question_answer_api_spark.sources.cell_store import (
        cell_store_manifest,
        cell_store_refresh,
        cell_store_stamp_frontier,
        cell_store_truncate_history,
        open_cell_table,
    )

    # r14: bounded time-travel retains superseded BLOBS — which contain
    # the very vectors this verb exists to remove.  Physical purge wins:
    # truncate history first (retired, grace-deleted by the writes below
    # / the next write), moving the retained horizon up to the current
    # stamp.  history_keep survives; retention resumes afterward.
    cell_store_truncate_history(path)
    # r15: the radii snapshots retained in lockstep (read_cell_radii
    # up_to_batch=) die with the graph history they pair with — a radii
    # snapshot outliving its epoch's blobs would claim an epoch the
    # store can no longer serve.
    try:
        _rdoc = _read_radii_doc(path)
        if _rdoc["history"]:
            write_cell_radii(
                path, _rdoc["radii"], batch_id=_rdoc["batch"], history=[]
            )
    except FileNotFoundError:
        pass
    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)
    t = open_cell_table(spark, path)
    if "n_dead" not in t.columns:
        return []
    dirty = sorted(
        int(r["cell"])
        for r in t.filter(F.coalesce(F.col("n_dead"), F.lit(0)) > 0)
        .select("cell")
        .distinct()
        .collect()
    )
    if not dirty:
        return []
    man = cell_store_manifest(path) or {}
    graphs = build_celled_hnsw(
        index.filter(assign_cell(F.col(vec_col), centroids).isin(dirty)),
        centroids=centroids, dim=dim, n_cells=n_cells, m=m,
        ef_construction=ef_construction, vec_col=vec_col, id_col=id_col,
        cell_salts=cell_salts,
    )
    cell_store_refresh(
        spark, path, graphs, dirty, batch_id=man.get("batch")
    )
    if "batch" in man and int(man.get("frontier", man["batch"])) > int(
        man["batch"]
    ):
        cell_store_stamp_frontier(path, int(man["frontier"]))
    return dirty


def read_celled_hnsw_index(
    spark: SparkSession, path: str, up_to_batch: "int | None" = None
) -> DataFrame:
    """Re-open a materialized cell-routed graph index.  The returned
    frame drops straight into ``celled_hnsw_topk_cogrouped``; passing
    it through ``filter(F.col("cell").isin(...))`` prunes to partition
    directories at the scan.

    ``up_to_batch=B`` (r13): the consistency bound — serves iff the
    managed store's last-change batch <= B, RAISES otherwise (in-place
    maintenance keeps only the newest state; see
    ``cell_store.open_cell_table``).  This is what lets the graph tier
    join ``hybrid_search_stored``'s one-committed-epoch composition.
    With ``history_keep`` > 0 (r14) a RETAINED epoch serves too.  For
    the PRUNED tier at a retained epoch, pair this with
    ``read_cell_radii(path, up_to_batch=B)`` — SAME bound on both (r15:
    radii snapshots are retained in lockstep with the graph history, so
    the pair is epoch-exact; a bare ``read_cell_radii(path)`` holds
    current-epoch radii, which post-B deletes may have SHRUNK below the
    epoch-B live set — pairing those with a historical graph read would
    silently break the pruned tier's lossless guarantee, which is why
    the bounded radii read raises instead of guessing)."""
    from vector_search_question_answer_api_spark.sources.cell_store import (
        open_cell_table,
    )

    return open_cell_table(spark, path, up_to_batch=up_to_batch).select(
        "cell", "n", "graph"
    )


_CANDIDATES = "query_id long, doc_id long, distance double"


def _no_candidates() -> pd.DataFrame:
    return pd.DataFrame({"query_id": [], "doc_id": [], "distance": []}).astype(
        {"query_id": "int64", "doc_id": "int64", "distance": "float64"}
    )


def _walk_graph(
    blob, q_ids: np.ndarray, q_mat: np.ndarray, ef: int, k: int
) -> pd.DataFrame:
    """The one per-graph walk both serving shapes run: unpickle ``blob``,
    search at breadth ``max(ef, k + 1)`` and emit (query_id, doc_id,
    distance) candidates.  The graph's disconnection padding (label -1 /
    dist +inf) is dropped so short results stay short, and zero queries
    give zero rows (``knn_query`` would read an empty matrix as one
    zero-width query)."""
    if len(q_ids) == 0:
        return _no_candidates()
    g = pickle.loads(bytes(blob))
    g.set_ef(max(ef, k + 1))
    labels, dists = g.knn_query(q_mat, k=k)
    rq, rc = np.nonzero(np.isfinite(dists))
    return pd.DataFrame(
        {
            "query_id": q_ids[rq],
            "doc_id": labels[rq, rc],
            "distance": dists[rq, rc],
        }
    )


def _cogrouped_walk(
    graphs: DataFrame, routed: DataFrame, ef: int, k: int
) -> DataFrame:
    """The shared cogrouped cell-walk stage: (query_id, qvec, cell) rows
    cogrouped with the graphs table on ``cell``; each task gets one cell's
    serialized graph(s) plus that cell's routed queries, walks, and emits
    (query_id, doc_id, distance) candidates."""

    def walk(key, gpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        q_ids = np.asarray(qpdf["query_id"], dtype=np.int64)
        q_mat = np.array(list(qpdf["qvec"]), dtype=np.float64)
        # a cell may hold SEVERAL graph rows (cell_salts shards a hot
        # cell); the shards partition the cell, so walking each and
        # merging candidates is exactly the unsalted cell walk
        out = [_walk_graph(blob, q_ids, q_mat, ef, k) for blob in gpdf["graph"]]
        return pd.concat(out, ignore_index=True) if out else _no_candidates()

    return (
        graphs.groupBy("cell")
        .cogroup(routed.select("query_id", "qvec", "cell").groupBy("cell"))
        .applyInPandas(walk, schema=_CANDIDATES)
    )


def celled_hnsw_topk_cogrouped(
    graphs: DataFrame,
    queries: DataFrame,
    centroids=None,
    k: int = 3,
    ef: int = 50,
    dim: int | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
    query_vec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Cell-routed graph walk for query batches of any size (VERDICT r5,
    What's missing #3): the query relation never touches the driver, so
    the same plan serves a 1-query request and an offline batch too
    large to collect.  Queries explode to their ``nprobe`` probed cells (map-only),
    then COGROUP with the graphs table on ``cell`` — each task gets one
    cell's serialized graph plus that cell's routed queries as Arrow
    batches, walks the graph, and emits candidates into the usual global
    top-k merge.  The graph blob appears once per cell (not once per
    query row, as a plain equi-join would duplicate it), and per-task
    memory is one cell graph + one cell's query slice — both bounded by
    layout choices (n_cells, query partitioning), not by batch size.
    With ``ef`` >= the probed cells' sizes the walk is exhaustive within
    them, so the result equals ``ivf_topk`` for the same (centroids,
    nprobe) — pinned in tests and in the ann_ivf_topk gate; recall vs
    exact is governed by the probe exactly as in IVF."""
    from vector_search_question_answer_api_spark.operators.ivf import probe_cells

    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)
    routed = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    ).withColumn(
        "cell", F.explode(probe_cells(F.col("qvec"), centroids, nprobe))
    )
    candidates = _cogrouped_walk(graphs, routed, ef, k)
    return ranked_topk(candidates, k)


def cell_radii(
    index: DataFrame,
    centroids=None,
    dim: int | None = None,
    n_cells: int = 16,
    vec_col: str = "norm_embedding",
) -> tuple:
    """Per-cell chord radius ``r_j = max over members of ||y - c_j||`` —
    ONE map + hash-agg job emitting ``n_cells`` floats (0.0 for empty
    cells).  The index-build-time half of lossless probe pruning
    (:func:`celled_hnsw_topk_pruned`): with unit vectors,
    ``||q - y|| >= ||q - c_j|| - r_j`` bounds every member's cosine
    distance below by ``max(0, ||q-c_j|| - r_j)^2 / 2`` — a per-(query,
    cell) skip test needing only the centroid table and these radii."""
    from vector_search_question_answer_api_spark.operators.ivf import assign_cell

    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)
    cents_lit = V.nested_array_lit(centroids)
    v = F.col(vec_col).cast("array<double>")
    cell = assign_cell(v, centroids)
    c = F.element_at(cents_lit, cell + 1)
    chord = F.sqrt(
        F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    rows = (
        index.filter(F.col(vec_col).isNotNull())
        .select(cell.alias("cell"), chord.alias("chord"))
        .groupBy("cell")
        .agg(F.max("chord").alias("r"))
        .collect()
    )
    by_cell = {int(r["cell"]): float(r["r"]) for r in rows}
    return tuple(by_cell.get(j, 0.0) for j in range(len(centroids)))


def recommended_probe_pruning(
    radii, centroids, threshold: float = 0.5, margin: float = 0.0
) -> bool:
    """The measured pruning crossover as code (SCALE.md r10 table;
    the ``recommended_pq_m`` precedent): should this (radii, centroids)
    layout enable :func:`celled_hnsw_topk_pruned`?

    Geometry: in the duplicate-heavy regime where pruning pays (replay /
    near-dup / contamination — queries resolve rank-1 with ``d_k ~ 0``),
    probe cell ``j`` is skippable for a query living in cell ``i``
    exactly when the bound ``||q - c_j|| - r_j`` stays positive; the
    worst query sits ``r_i`` from its own centroid, so the GUARANTEED
    skip condition is ball disjointness::

        ||c_i - c_j|| > r_i + r_j + margin

    The predicate returns True when at least ``threshold`` of ordered
    (i, j) pairs over occupied cells (``r > 0``; empty cells have no
    graphs and cost nothing) are ball-disjoint.  On the two measured
    geometries (20k self-queries, 16 cells, SCALE.md r10): clustered
    real-text shape — radii ~0.5 against inter-centroid chords ~1.4,
    nearly all pairs disjoint → True, and pruning measured 1.55x faster;
    near-uniform — radii ~1.3 swallow the sphere (r_i + r_j ~ 2.6 vs
    chords ~1.4), no pair disjoint → False, and pruning measured 1.7x
    SLOWER (the bound never fires, the second graph-blob cogroup is pure
    overhead).  Both pinned in tests.  Advisory, like every
    ``recommended_*`` rule: serving defaults never change under a
    caller's feet.  ``cell_health_report`` + ``cell_radii`` supply the
    inputs from a live store in one hash-agg each."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    r = np.asarray(radii, dtype=np.float64)
    if len(C) != len(r):
        raise ValueError(
            f"{len(r)} radii for {len(C)} centroids — radii must come from "
            "cell_radii over the same centroid layout"
        )
    occ = np.nonzero(r > 0.0)[0]
    if len(occ) < 2:
        return False
    Co, ro = C[occ], r[occ]
    # pairwise centroid chords on the (small) occupied set
    d2 = ((Co[:, None, :] - Co[None, :, :]) ** 2).sum(axis=2)
    gaps = np.sqrt(np.maximum(d2, 0.0))
    disjoint = gaps > (ro[:, None] + ro[None, :] + margin)
    n = len(occ)
    frac = disjoint[~np.eye(n, dtype=bool)].mean()
    return bool(frac >= threshold)


_RADII_SIDECAR = "_cell_radii.json"


def write_cell_radii(
    path: str, radii, batch_id: "int | None" = None, history=None
) -> None:
    """Persist :func:`cell_radii` next to a stored graph index — the
    pruning bound is index-SNAPSHOT state exactly like the centroids, so
    it rides an atomic sidecar (the LSH-manifest precedent) rather than
    being recomputed on a possibly-drifted corpus at query time.  On a
    MANAGED store, :func:`refresh_celled_hnsw_index` keeps the sidecar
    exact through per-cell upserts (r11) — write it once at build time
    and the maintained radii stay a valid (and tight) cover.

    ``batch_id`` / ``history`` (r15 — closes the ADVICE r14 trap where
    the single-version sidecar silently invalidated historical pruned
    reads): a stamped write records the epoch the radii cover, and
    ``history`` is a list of ``{"batch": B, "radii": [...]}`` snapshots
    of superseded epochs — the radii twin of the cell store's
    ``history_keep`` retention, maintained by
    :func:`refresh_celled_hnsw_index` under the SAME evolve rule
    (advance pushes, same-batch rewrite carries, unstamped drops), so a
    radii snapshot exists exactly for the epochs the graph store
    retains.  Unstamped writes (the default) keep the legacy flat-list
    format; every pre-r15 sidecar stays readable."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    if batch_id is None:
        payload = [float(r) for r in radii]
    else:
        payload = {
            "batch": int(batch_id),
            "radii": [float(r) for r in radii],
        }
        if history:
            payload["history"] = [
                {
                    "batch": int(s["batch"]),
                    "radii": [float(x) for x in s["radii"]],
                }
                for s in history
            ]
    tmp = os.path.join(path, _RADII_SIDECAR + ".tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _RADII_SIDECAR))


def _read_radii_doc(path: str) -> dict:
    """The full radii sidecar, normalized to
    ``{"radii": tuple, "batch": int | None, "history": list}`` (legacy
    flat-list sidecars normalize to an unstamped doc)."""
    import json
    import os

    with open(os.path.join(path, _RADII_SIDECAR)) as f:
        doc = json.load(f)
    if isinstance(doc, list):
        return {"radii": tuple(float(r) for r in doc), "batch": None,
                "history": []}
    return {
        "radii": tuple(float(r) for r in doc["radii"]),
        "batch": int(doc["batch"]) if "batch" in doc else None,
        "history": list(doc.get("history", [])),
    }


def read_cell_radii(path: str, up_to_batch: "int | None" = None) -> tuple:
    """Load a :func:`write_cell_radii` sidecar.

    ``up_to_batch=B`` (r15 — the radii half of bounded time-travel,
    closing the ADVICE r14 trap): resolves exactly like the graph
    store's own history — the CURRENT radii serve any ``B`` at/after
    their stamp (the sidecar is rewritten on every membership-changing
    refresh, so its state at the stamp is its state at every absorbed
    epoch since; pair only with a graph read at the same bound, whose
    above-frontier raise guards the future), a RETAINED snapshot serves
    its epoch range, and below the retained horizon or on an unstamped
    sidecar it RAISES — a post-B delete can have SHRUNK a maintained
    radius below the epoch-B live set, so serving current radii for an
    old epoch would silently break the pruned tier's lossless guarantee
    (the exact defect this parameter exists to prevent).  With a bound,
    pass the SAME bound to ``read_celled_hnsw_index`` — the pair is
    epoch-exact (pinned in tests/test_hnsw_incremental.py)."""
    doc = _read_radii_doc(path)
    if up_to_batch is None:
        return doc["radii"]
    if doc["batch"] is None:
        raise ValueError(
            f"read_cell_radii: the sidecar at {path!r} is not "
            "epoch-stamped — up_to_batch= cannot be honored; refresh the "
            "store with batch ids to join the consistency surface"
        )
    if int(up_to_batch) >= doc["batch"]:
        return doc["radii"]
    snaps = [
        s for s in doc["history"] if int(s["batch"]) <= int(up_to_batch)
    ]
    if snaps:
        best = max(snaps, key=lambda s: int(s["batch"]))
        return tuple(float(x) for x in best["radii"])
    horizon = min(
        (int(s["batch"]) for s in doc["history"]), default=doc["batch"]
    )
    raise ValueError(
        f"read_cell_radii: up_to_batch={int(up_to_batch)} is below the "
        f"sidecar's retained horizon (oldest retained epoch: {horizon}) "
        f"at {path!r} — radii snapshots are retained in lockstep with "
        "the graph store's history_keep; older epochs must serve through "
        "the unpruned tiers"
    )


def _phase1_dk(cand1: DataFrame, k: int) -> DataFrame:
    """(query_id, d_k): the EXACT k-th smallest phase-1 distance per query
    (row_number, not max).  Over a SALTED layout each shard of the rank-1
    cell emits up to k candidates, so phase 1 can hold up to salts*k rows
    per query and their max would overshoot the true k-th — still lossless
    (a larger d_k only keeps more cells) but needlessly loose.  The k-th
    row is exact for both layouts; a query with fewer than k phase-1
    candidates gets no row here and resolves to +inf through
    ``_pruned_phase2_routing``'s left join (probe everything)."""
    from pyspark.sql import Window

    wk = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("doc_id").asc()
    )
    return (
        cand1.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") == k)
        .select("query_id", F.col("distance").alias("d_k"))
    )


def _pruned_phase2_routing(
    queries: DataFrame,
    dk: DataFrame,
    centroids,
    radii,
    nprobe: int,
    query_vec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, qvec, cell) rows for probe ranks 2..nprobe that SURVIVE
    the lower-bound test: keep iff ``d_k >= d_lb - eps`` with
    ``d_lb = max(0, ||q-c_j|| - r_j)^2/2`` (strict-< skips cannot drop a
    tie: if d_k < d_lb every cell-j candidate is strictly worse than the
    phase-1 k-th).  ``eps`` is pure margin for float64 rounding (ADVICE
    r10): the walk's distances (numpy ``1 - dot``) and the JVM-side
    ``d_lb`` are both float64 but round through different operation
    orders, so a cell-j candidate whose distance sits on the bound could
    land a few ulps either side of it — without slack the pruned tier
    could skip a cell holding such an epsilon-tie.  A relative slack of
    2^-21 plus a tiny absolute floor keeps the relation equal at the
    boundary; extra kept probes only cost walks, never correctness.
    Factored out so tests can count what pruning removes."""
    from vector_search_question_answer_api_spark.operators.ivf import probe_cells

    cents_lit = V.nested_array_lit(centroids)
    radii_lit = F.array(*[F.lit(float(r)) for r in radii])
    routed = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        .select(
            "query_id",
            "qvec",
            F.posexplode(
                probe_cells(F.col("qvec"), centroids, nprobe)
            ).alias("pos", "cell"),
        )
        .filter(F.col("pos") >= 1)
        .join(dk, "query_id", "left")
        # a query with NO phase-1 candidates (its rank-1 cell was empty)
        # must probe everything: null d_k -> +inf
        .withColumn("d_k", F.coalesce(F.col("d_k"), F.lit(float("inf"))))
    )
    c = F.element_at(cents_lit, F.col("cell") + 1)
    chord = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("qvec").cast("array<double>"), c,
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    lb_chord = F.greatest(
        F.lit(0.0), chord - F.element_at(radii_lit, F.col("cell") + 1)
    )
    d_lb = lb_chord * lb_chord / F.lit(2.0)
    # rounding slack (see docstring); d_k = +inf keeps regardless
    eps = F.col("d_k") * F.lit(2.0**-21) + F.lit(2.0**-40)
    return routed.filter(F.col("d_k") >= d_lb - eps).select(
        "query_id", "qvec", "cell"
    )


def celled_hnsw_topk_pruned(
    graphs: DataFrame,
    queries: DataFrame,
    radii,
    centroids=None,
    k: int = 3,
    ef: int = 50,
    dim: int | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
    query_vec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """:func:`celled_hnsw_topk_cogrouped` with LOSSLESS probe pruning —
    identical output (pinned in tests), fewer graph walks.

    Two-phase plan: walk every query's rank-1 cell first; a later probe
    cell ``j`` is walked only if the query's phase-1 k-th distance could
    still be beaten there, judged by the triangle-inequality bound from
    :func:`cell_radii` (``d(q, any y in j) >= max(0, ||q-c_j|| - r_j)^2/2``
    for unit vectors).  The skip is strict-<, so boundary ties always
    probe — the relation equals the unpruned tier's exactly, for ANY
    corpus.  Work saved is geometry-dependent: duplicate-heavy workloads
    (replay, near-dup, contamination — this engine's bread and butter)
    resolve in the rank-1 cell with d_k ~ 0 and skip nearly all of the
    remaining ``(nprobe-1)/nprobe`` of the walk budget; on a geometry
    where probes genuinely contribute, nothing is skipped and the
    overhead is the d_k aggregation plus a SECOND cogroup of the graph
    blobs.  MEASURED at 20k self-queries, 16 cells (SCALE.md r10):
    clustered corpus (radii ~0.5, the real-text geometry) **1.55x
    faster** ([7.9, 8.8] vs [12.2, 13.3] s); near-uniform corpus (radii
    ~1.3 swallow the sphere, bound never fires) 1.7x SLOWER — measure
    your geometry before enabling, which is why this is a separate
    opt-in function and not a default (:func:`recommended_probe_pruning`
    codifies the crossover as a predicate over (radii, centroids)).
    ``radii`` must come from the SAME index snapshot the graphs were
    built from (cell_radii — an index-build-time artifact, like the
    centroids).  SALTED layouts (``cell_salts > 1``) compose cleanly
    (VERDICT r10 #3): shards of a cell share its base cell id, phase 1
    walks EVERY graph row of the rank-1 cell (the same shard union as the
    unpruned walker), the per-cell radius bounds every shard's members
    (shards partition the cell, so each shard radius <= r_j), and a
    skipped cell skips all of its shards together — lossless, pinned on a
    salted clustered layout in tests.  The keep test carries a small
    rounding slack so float64 rounding between the walk and the JVM
    bound cannot break relation equality on epsilon-ties (ADVICE r10;
    see :func:`_pruned_phase2_routing`)."""
    from vector_search_question_answer_api_spark.caching import persist_tracked
    from vector_search_question_answer_api_spark.operators.ivf import probe_cells

    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )
    routed1 = q.withColumn(
        "cell", F.element_at(probe_cells(F.col("qvec"), centroids, 1), 1)
    )
    # phase-1 candidates feed BOTH the d_k aggregation and the final
    # merge — tracked persist, released by the caller's cache_scope
    cand1 = persist_tracked(_cogrouped_walk(graphs, routed1, ef, k))
    if nprobe <= 1:
        return ranked_topk(cand1, k)
    dk = _phase1_dk(cand1, k)
    keep = _pruned_phase2_routing(q, dk, centroids, radii, nprobe)
    cand2 = _cogrouped_walk(graphs, keep, ef, k)
    return ranked_topk(cand1.unionByName(cand2), k)


def knn_graph(
    index: DataFrame,
    centroids=None,
    k: int = 5,
    ef: int = 50,
    dim: int | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "norm_embedding",
    id_col: str = "doc_id",
    graphs: DataFrame | None = None,
    include_self: bool = False,
) -> DataFrame:
    """(query_id, doc_id, distance, score, rank): the corpus k-NN GRAPH —
    every row's k approximate nearest neighbors, the standard input to
    SemDeDup-style semantic dedup, graph clustering, and diversity
    sampling pipelines.

    Built as a SELF-query through the cogrouped cell-routed walk: the
    corpus is both the graphs' content and the (cell-routed, never
    collected) query relation, so the whole n×k construction is two
    cell-keyed shuffles regardless of corpus size — the shape that
    survives 100 TB, vs the n×n similarity join it replaces.  Recall per
    row is governed by (nprobe, ef) exactly as in
    ``celled_hnsw_topk_cogrouped``.

    ``include_self=False`` (default) drops each row's trivial self-match
    (distance 0) BEFORE the top-k cut, so all k slots hold real
    neighbors.  Pass a prebuilt ``graphs`` frame (e.g. from
    ``read_celled_hnsw_index``) to amortize the build across calls."""

    centroids, dim = _resolve_centroids_dim(centroids, dim, n_cells)
    if graphs is None:
        graphs = build_celled_hnsw(
            index, centroids=centroids, dim=dim, n_cells=n_cells,
            vec_col=vec_col, id_col=id_col,
        )
    q = index.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # ask for one extra neighbor, drop the self-row, re-cut to k
    kk = k if include_self else k + 1
    raw = celled_hnsw_topk_cogrouped(
        graphs, q, centroids=centroids, k=kk, ef=ef, dim=dim,
        n_cells=n_cells, nprobe=nprobe,
    )
    if include_self:
        return raw
    pruned = raw.filter(F.col("query_id") != F.col("doc_id")).select(
        "query_id", "doc_id", "distance"
    )
    return ranked_topk(pruned, k)


def hnsw_topk(
    spark: SparkSession,
    graphs: DataFrame,
    queries: DataFrame,
    k: int = 3,
    ef: int = 50,
    query_vec_col: str = "qvec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-partition graph walk + global candidate merge.  Search breadth
    ef=50 preserved from the reference (services/index_service.py:72)."""
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float32)

    def search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["graph"]:
                yield _walk_graph(blob, q_ids, q_mat, ef, k)

    candidates = graphs.mapInPandas(search, schema=_CANDIDATES)
    return ranked_topk(candidates, k)
