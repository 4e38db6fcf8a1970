"""Batch vector search — the /search pipeline (SURVEY.md §3.1; V4/V5, J1-J3,
A1-A3, P6).

Reference: per-request ``knn_query`` against an in-memory HNSW graph
(services/index_service.py:98-104), positional-label lookup
(services/index_service.py:106-110), score ``1 - distance``
(controllers/search_controller.py:37), results ascending by distance.

Spark-first design — two physical strategies for the same logical op:

1. ``knn_exact_expr`` — pure Catalyst: broadcast nested-loop join of the
   (small) query side against the corpus, cosine via higher-order functions,
   per-query top-k window.  Whole plan is JVM-side/codegen; this is the
   oracle path and wins when n_queries is small.

2. ``knn_exact_partitioned`` — the 100 TB path: corpus partitions stay put;
   the normalized query matrix is broadcast as numpy; each partition does one
   BLAS matmul + partial top-k inside ``mapInPandas`` (Arrow-batched), so the
   only shuffled data is ``<= n_partitions * n_queries * k`` candidate rows,
   reduced by a final per-query window.  No O(n_corpus) shuffle ever happens.

Determinism: ties break (distance ASC, id ASC) — the reference inherits
HNSW's arbitrary tie order; we define it (SURVEY.md §7 known-hard list).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V


def topk_per_query(
    scored: DataFrame,
    k,
    query_col: str = "query_id",
    dist_col: str = "distance",
    id_col: str = "doc_id",
) -> DataFrame:
    """A1-many: deterministic per-query top-k.  ``k`` may be an int or the
    name of a per-row column (per-request k, clamped upstream).  Spark
    compiles the window + filter into a ranked shuffle-and-prune; for the
    single-query case Catalyst would use TakeOrderedAndProject via
    orderBy/limit, but the window form handles both uniformly."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    limit = F.col(k) if isinstance(k, str) else F.lit(int(k))
    return ranked.filter(F.col("rank") <= limit)


def ranked_topk(candidates: DataFrame, k) -> DataFrame:
    """The tier output contract every top-k operator returns:
    ``(query_id, doc_id, distance, score, rank)`` with ``score = 1 -
    distance`` (controllers/search_controller.py:37), cut by
    :func:`topk_per_query` from ``(query_id, doc_id, distance)``
    candidates."""
    return topk_per_query(candidates, k).select(
        "query_id",
        "doc_id",
        "distance",
        (F.lit(1.0) - F.col("distance")).alias("score"),
        "rank",
    )


def knn_exact_expr(
    queries: DataFrame,
    index: DataFrame,
    k=3,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
    max_distance: float | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k, pure Catalyst (V4-exact oracle).

    Expects the query vectors ALREADY L2-normalized (normalize once with
    V.l2_normalize) and the index side pre-normalized at build time, so the
    score is a plain dot product.  The query side is broadcast: the join is a
    BroadcastNestedLoopJoin — corpus never moves.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qvec")
    )
    scored = index.join(F.broadcast(q)).select(
        "query_id",
        F.col(index_id_col).alias("doc_id"),
        (F.lit(1.0) - V.dot(F.col("qvec"), F.col(index_vec_col))).alias("distance"),
    )
    if max_distance is not None:
        # P6 gate (reference services/qa_service.py:157, strict '<').
        scored = scored.filter(F.col("distance") < F.lit(max_distance))
    return ranked_topk(scored, k)


def knn_exact_partitioned(
    queries: DataFrame,
    index: DataFrame,
    k: int = 3,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
    max_distance: float | None = None,
) -> DataFrame:
    """Exact cosine top-k at scale: per-partition numpy matmul + partial
    top-k, then a global per-query merge of the tiny candidate set.

    The query matrix is collected to the driver and shipped via an
    EXPLICIT ``sc.broadcast`` (it is the SMALL side by contract — same
    asymmetry the reference exploits: one query vs the whole corpus).
    Closure capture would re-deserialize the matrix in the python worker
    on EVERY task; the broadcast is fetched and unpickled once per worker
    process — at a 20k-query replay that is 10 MB x n_corpus_partitions
    of avoided deserialization, and the gap widens with batch size.
    """
    # Arrow toPandas: ~10x cheaper than Row-object collect at 10k+ queries
    q_pdf = queries.select(query_id_col, query_vec_col).toPandas()
    if q_pdf.empty:
        return knn_exact_expr(
            queries, index, k, query_vec_col, index_vec_col, query_id_col,
            index_id_col, max_distance,
        )
    from vector_search_question_answer_api_spark.caching import broadcast_tracked

    # Tracked: the broadcast must outlive this (lazy) builder, so it is
    # released by the caller's cache_scope()/unpersist_all() instead of
    # leaking one query-matrix blob per replay for the session's lifetime.
    bq = broadcast_tracked(
        queries.sparkSession.sparkContext,
        (
            q_pdf[query_id_col].to_numpy(dtype=np.int64),
            np.array(list(q_pdf[query_vec_col]), dtype=np.float64),  # (m, d)
        ),
    )

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Partition-local top-k per query: one matmul per Arrow batch, then
        # an argpartition prune — emits <= m*k rows per batch.
        q_ids, q_mat = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[index_id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[index_vec_col]), dtype=np.float64)  # (n, d)
            dists = 1.0 - q_mat @ mat.T  # (m, n)
            take = min(k, dists.shape[1])
            # Tie-aware prune: everything <= the k-th smallest distance is a
            # candidate (argpartition alone breaks boundary ties arbitrarily
            # and could drop the lower doc_id the (dist, id) contract keeps),
            # then a (dist, id) lexsort picks the deterministic first k.
            # row-min is ~200x cheaper than introselect at take=1 — the
            # k=1 shape every QA-replay retrieval hits
            if take == 1:
                kth = dists.min(axis=1)
            else:
                kth = np.partition(dists, take - 1, axis=1)[:, take - 1]
            # Vectorized across queries (a per-query python loop dominated
            # wall time at large query batches — 20k-event QA replays):
            # every candidate <= its query's kth distance, ONE global
            # (query, dist, id) lexsort, then rank-within-query keeps the
            # deterministic first `take` of each run.
            rows, cols = np.nonzero(dists <= kth[:, None])
            order = np.lexsort((ids[cols], dists[rows, cols], rows))
            rows_s, cols_s = rows[order], cols[order]
            run_start = np.flatnonzero(
                np.r_[True, rows_s[1:] != rows_s[:-1]]
            )
            counts = np.diff(np.r_[run_start, rows_s.size])
            rank = np.arange(rows_s.size) - np.repeat(run_start, counts)
            keep = rank < take
            sel_r, sel_c = rows_s[keep], cols_s[keep]
            yield pd.DataFrame(
                {
                    "query_id": q_ids[sel_r],
                    "doc_id": ids[sel_c],
                    "distance": dists[sel_r, sel_c],
                }
            )

    candidates = index.select(index_id_col, index_vec_col).mapInPandas(
        score_partition, schema="query_id long, doc_id long, distance double"
    )
    if max_distance is not None:
        candidates = candidates.filter(F.col("distance") < F.lit(max_distance))
    return ranked_topk(candidates, k)


def attach_documents(results: DataFrame, documents: DataFrame) -> DataFrame:
    """J3: key->document join (reference's O(n) ``next()`` scan at
    services/index_service.py:106-110 becomes a broadcast hash join; at 100 TB
    a plain equi-join — Catalyst/AQE picks)."""
    return results.join(
        documents.select("doc_id", "text"), "doc_id", "left"
    )


def filtered_knn(
    queries: DataFrame,
    index: DataFrame,
    predicate,
    k: int = 3,
    strategy: str = "exact",
    oversample: int = 4,
    ann_topk=None,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
) -> DataFrame:
    """k-NN restricted to index rows satisfying ``predicate`` (a Column) —
    filtered vector search, the pipeline shape behind per-language /
    per-source / per-license similarity work the reference's global index
    cannot express.

    Two honest strategies (the known trade-off in filtered ANN):

    - ``"exact"`` (default): filter FIRST, then the exact broadcast top-k
      over the surviving rows.  Catalyst pushes the predicate into the
      parquet scan (pinned in tests/test_plans.py), so the similarity
      work — the expensive part — touches only matching rows.  Always
      correct at any selectivity; the right choice whenever the predicate
      is selective, which is the common pipeline case.
    - ``"ann_postfilter"``: run any ANN tier OVERSAMPLED (k*oversample),
      then apply the predicate and re-cut to k.  ``ann_topk`` is a
      callable (queries, k) -> DataFrame[(query_id, doc_id, distance)]
      wrapping the tier of choice (celled graphs, IVF, PQ...).  Recall
      degrades with predicate selectivity s; MEASURED rule
      (SCALE.md r7 selectivity table, pinned in tests/test_search.py):
      oversample ≈ 2/s for a 0.95 target (the 1/s back-of-envelope
      leaves half the queries short), recall is capped by the base
      tier's own unfiltered recall, and below s ≈ 0.1 the required
      oversample climbs into that ceiling — use for BROAD predicates
      (s >= 0.25) where re-scanning the corpus per predicate would
      dominate.  The join back to the index applies the predicate to
      ids only (semi-join sized).  CAVEAT (tested): if the predicate is
      ANTI-CORRELATED with the geometry (whole clusters/cells fail it),
      the matching rows sit outside the probed neighborhoods and no
      reasonable oversample recovers recall — that regime belongs to "exact".

    Graph-native filtered walks (predicate evaluated inside the beam) are
    deliberately NOT implemented: under selective filters they degrade to
    disconnected-region searches with unbounded detours (the known
    failure mode), and the two strategies above cover both selectivity
    regimes with predictable cost.
    """
    if strategy == "exact":
        return knn_exact_expr(
            queries,
            index.filter(predicate),
            k,
            query_vec_col=query_vec_col,
            index_vec_col=index_vec_col,
            query_id_col=query_id_col,
            index_id_col=index_id_col,
        )
    if strategy != "ann_postfilter":
        raise ValueError(f"unknown filtered_knn strategy {strategy!r}")
    if ann_topk is None:
        raise ValueError("ann_postfilter needs ann_topk=(queries, k) -> DF")
    raw = ann_topk(queries, max(int(oversample), 1) * k)
    keep = index.filter(predicate).select(
        F.col(index_id_col).alias("doc_id")
    )
    pruned = raw.join(keep, "doc_id").select("query_id", "doc_id", "distance")
    return ranked_topk(pruned, k)
