"""Per-batch maintenance of the SERVING-SIDE ANN artifacts — the
composition of the index log (``streaming/index_stream``) with the
per-cell incremental refresh (``sources/cell_store``), closing the loop
the reference's POST /refresh-index only sketches
(services/index_service.py:112-115: full rebuild per refresh).

``ingest_stream.maintain_corpus`` runs :func:`refresh_search_artifacts_batch`
once per micro-batch of indexed documents (the ``index_stream`` relation).
It:

1. appends the batch to the index LSM log under ``<path>/log``, tagged
   with the restart-safe batch id (``_batch``) that
   ``index_stream.read_index_latest`` resolves by;
2. re-encodes ONLY the dirty cells of the managed IVFPQ codes store and
   re-builds ONLY the dirty cells' graphs in the managed celled-HNSW
   store, from the post-append resolved view.  Old-cell evidence for
   cell-MOVING updates comes from each store's own durable state: the
   codes store's (doc_id, cell) rows, the graph store's ``ids``
   membership sidecar (its blobs are opaque — see
   ``refresh_celled_hnsw_index``).  For graph stores initialized WITHOUT
   a sidecar, a pre-append view snapshot is the legacy fallback; that
   snapshot is not replay-safe (a replay recomputes it from a view the
   crashed attempt already appended to — ADVICE r7), which is why the
   sidecar is the default for the stores ``maintain_corpus`` initializes.

Restart safety: a replayed batch (same checkpointed batch id) re-appends
rows the read view already deduplicates, and the refreshes are
IDEMPOTENT — they rebuild dirty cells from the resolved view and read
old-cell evidence from durable pre-upsert store state, so running them
twice converges to the same artifact (only the generation counter
advances).  Readers are never broken mid-refresh: each store publishes
with an atomic manifest swap and grace-retires superseded partitions.

Scale shape: per micro-batch the work is the batch embed/append (map-only)
plus ``|dirty cells| / n_cells`` of the corpus re-encoded — the batch's
own footprint under a well-sized coarse quantizer, vs the full rebuild
the reference performs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def refresh_search_artifacts_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    path: str,
    codebooks=None,
    codes_path: str | None = None,
    graphs_path: str | None = None,
    centroids=None,
    dim: int = 64,
    n_cells: int = 16,
    compact_every_gens: int = 8,
    graph_max_dead_frac: float = 0.2,
    graph_insert_efc: "int | None" = None,
) -> None:
    """Process ONE micro-batch of indexed rows: snapshot pre-upsert state,
    append to the index log, refresh dirty cells of each managed artifact,
    auto-compact over-wide stores (more than ``compact_every_gens`` live
    generations are folded back to one by ``cell_store_compact``).
    ``path`` is the index-log root; ``codes_path`` / ``graphs_path`` are
    MANAGED stores initialized by ``write_ivfpq_index_managed`` /
    ``write_celled_hnsw_index_managed`` (either may be None to maintain
    just one artifact, both None for a plain log append).  Idempotent, so
    ``maintain_corpus`` runs it alongside its other per-batch stores."""
    from vector_search_question_answer_api_spark.operators.ivf import (
        centroid_grid,
    )
    from vector_search_question_answer_api_spark.streaming.index_stream import (
        read_index_latest,
    )

    if centroids is None:
        centroids = centroid_grid(dim, n_cells)
    from vector_search_question_answer_api_spark.sources.cell_store import (
        cell_store_manifest,
    )

    spark = batch_df.sparkSession
    # Cache ownership (ADVICE r15): when the caller already persisted the
    # batch (ingest_stream's shared `indexed`, still being consumed by its
    # concurrent vecmean/lsh stages when this function returns), leave the
    # cache alone — persisting AND unpersisting here would evict it
    # mid-batch and force those stages to recompute the embed UDF,
    # defeating the documented single materialization (and, with a
    # non-deterministic embedder, letting sibling stores diverge from the
    # vectors this chain appended).  Only a batch that arrives uncached is
    # persisted (it feeds several actions below) and released here.
    from pyspark import StorageLevel

    _owns_cache = batch_df.storageLevel == StorageLevel.NONE
    if _owns_cache:
        batch_df = batch_df.persist()
    try:
        # Old-cell evidence for cell-moving updates: when the graph store
        # carries its (doc_id, cell) membership SIDECAR, the refresh reads
        # pre-upsert cells from the store itself — durable, so a checkpoint
        # replay after a crash between the log append and the refresh still
        # dirties the true old cell (ADVICE r7).  The view snapshot below is
        # only the legacy fallback for sidecar-less stores, and is NOT
        # replay-safe in that crash window (the replayed snapshot already
        # contains the batch).
        prev_delta = None
        ids = batch_df.select("doc_id").distinct()
        if graphs_path is not None and cell_store_manifest(
            os.path.join(graphs_path, "ids")
        ) is None:
            try:
                prev_delta = (
                    read_index_latest(spark, path)
                    .join(F.broadcast(ids), "doc_id", "left_semi")
                    .select("doc_id", "norm_embedding")
                    .persist()
                )
                prev_delta.count()
            except FileNotFoundError:
                prev_delta = None  # first batch: nothing to supersede
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(os.path.join(path, "log"))
        )
        index = read_index_latest(spark, path)
        delta = batch_df.select("doc_id", "norm_embedding")

        def _codes_refresh():
            from vector_search_question_answer_api_spark.operators.pq import (
                refresh_ivfpq_index,
            )

            refresh_ivfpq_index(
                spark, codes_path, index, delta, codebooks,
                centroids=centroids, dim=dim, n_cells=n_cells,
                batch_id=batch_id,
            )

        def _graphs_refresh():
            from vector_search_question_answer_api_spark.operators import (
                ann_hnsw,
            )

            ann_hnsw.refresh_celled_hnsw_index(
                spark, graphs_path, index, delta,
                prev_delta=prev_delta, centroids=centroids, dim=dim,
                n_cells=n_cells, batch_id=batch_id,
                max_dead_frac=graph_max_dead_frac,
                insert_efc=graph_insert_efc,
            )

        if codes_path is not None and graphs_path is not None:
            # the two managed stores are independent artifacts over the
            # same (index, delta) inputs — refresh them as CONCURRENT
            # Spark jobs (guide §2.6): their censuses/classifications/
            # writes touch disjoint store subtrees, and at micro-batch
            # scale each is mostly fixed per-job latency that now
            # overlaps (the codes refresh hides entirely inside the
            # graph refresh's window)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="codes-refresh"
            ) as pool:
                fut = pool.submit(_codes_refresh)
                _graphs_refresh()
                fut.result()
        elif codes_path is not None:
            _codes_refresh()
        elif graphs_path is not None:
            _graphs_refresh()
        from vector_search_question_answer_api_spark.sources.cell_store import (
            cell_store_compact,
            cell_store_live_generations,
        )

        for store in (codes_path, graphs_path):
            if (
                store is not None
                and cell_store_live_generations(store) > compact_every_gens
            ):
                cell_store_compact(spark, store)
        if prev_delta is not None:
            prev_delta.unpersist()
    finally:
        if _owns_cache:
            batch_df.unpersist()
