"""IVF (inverted-file) approximate nearest neighbors — the cell-partitioned
scale tier of the V4 kNN operator (SURVEY.md §2.4 V3/V4 "Approx tier B'").

The reference's HNSW graph (services/index_service.py:87-96) is a
single-machine pointer structure.  The second classic ANN family — IVF
(Sivic & Zisserman 2003 "Video Google"; FAISS IVFFlat) — maps onto Spark
natively because it is *pure data partitioning*:

- a small set of ``n_cells`` coarse centroids partitions the corpus: every
  vector is assigned to its nearest centroid (one map-only pass, the
  centroid table rides in the closure as literals — no shuffle, no UDF);
- a query probes only its ``nprobe`` nearest cells, so the candidate
  equi-join on ``cell`` touches ~nprobe/n_cells of the corpus instead of
  all of it;
- candidates are re-ranked EXACTLY (dot product on normalized vectors), so
  precision is 1.0 by construction; only recall is approximate, governed by
  nprobe/n_cells.

Scale shape: cell assignment is embarrassingly parallel; the probe join is
a broadcast (queries small) or shuffled hash join on ``cell`` whose key
cardinality (n_cells) is chosen to match the cluster (e.g. 4-16x executor
count at 100 TB, giving both pruning and parallelism).  The served on-disk
forms are the managed cell stores (``pq.write_ivfpq_index`` and the
celled-graph store in ``ann_hnsw``): the partition column IS the coarse
quantizer, so a probe reads only the probed cells.

Two centroid sources:

- :func:`centroid_grid` — DETERMINISTIC data-independent pseudo-random
  centroids (md5-seeded integer components, exactly representable in any
  engine) — the oracle-twinnable default; equivalent to a random-projection
  space partition.
- :func:`train_centroids` — distributed Lloyd k-means on the corpus itself
  (assignment map-side against centroid literals, per-cell mean via one
  hash-agg of ``dim`` avg columns, centroids — a few KB — collected per
  iteration).  Better-balanced cells on clustered data; used by the recall
  harness, not the hash-match oracle (distributed float summation order is
  not bit-reproducible across engines).
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.search import ranked_topk

DEFAULT_N_CELLS = 16
DEFAULT_NPROBE = 4


@lru_cache(maxsize=None)
def centroid_grid(dim: int, n_cells: int = DEFAULT_N_CELLS) -> tuple[tuple[float, ...], ...]:
    """centroids[c] = length-``dim`` tuple of small-integer-valued floats in
    [-8, 7], seeded by md5("c:{c}:{j}") — exactly representable doubles, so
    Spark and the DuckDB oracle embed bit-identical literals.  Cosine
    scoring against them normalizes by ||c|| *inside the expression* (both
    engines compute the same sqrt on the same exact inputs)."""
    out = []
    for c in range(n_cells):
        comp = [
            float(int(hashlib.md5(f"c:{c}:{j}".encode()).hexdigest()[0], 16) - 8)
            for j in range(dim)
        ]
        out.append(tuple(comp))
    return tuple(out)


def _resolve_dim(centroids, dim, df=None, vec_col=None) -> int:
    """Prefer the width the ``centroids`` artifact carries; cross-check an
    explicit ``dim`` against it (raise on mismatch); fall back to
    measuring the data when neither is given (grid mode).  Mirrors
    ``pq._resolve_dim`` — a wrong width here would silently truncate or
    null every dot product against grid centroids of the wrong length."""
    if centroids is not None:
        inferred = len(centroids[0])
        if dim is not None and dim != inferred:
            raise ValueError(
                f"dim={dim} inconsistent with centroids dim {inferred}"
            )
        return inferred
    if dim is not None:
        return dim
    if df is not None:
        return len(df.select(vec_col).first()[0])
    raise ValueError("dim is required when centroids is None")


def _cell_scores(vec: Column, centroids) -> Column:
    """Array of cosine scores of ``vec`` (assumed L2-normalized) against
    each centroid: dot(vec, c) / ||c||.

    The centroid table is one SQL array-of-structs expression, parsed
    JVM-side in a single call; its O(n_cells x dim) literal leaves
    constant-fold into one literal, and the scoring is a ``zip_with`` over
    it — the scoring expression stays O(1) in n_cells x dim, where the
    unrolled per-centroid form put thousands of nodes into the plan and
    cost seconds of analyzer/codegen time per query (measured 3.2s -> 0.8s
    at sf0.01, bit-identical values: both forms sum left-to-right in
    float64).  A non-finite centroid (nan/inf, or a norm that overflows
    float64) has no SQL literal form and raises ``ValueError``.

    r16 (optimization round): two hoists out of the per-centroid lambda,
    values bit-identical (pinned in tests/test_ann.py):

    - each centroid's ``||c||`` was recomputed per ROW per CENTROID by an
      interpreted O(dim) aggregate; it is a property of the literal, so it
      now rides precomputed next to the centroid (the python fold below is
      the same left-to-right float64 sum + IEEE sqrt the JVM evaluated);
    - the ``vec.cast("array<double>")`` was a captured child expression,
      re-evaluated per centroid (Catalyst re-evaluates lambda captures per
      element — the ``word_shingles_from_tokens`` pathology); ``zip_with``
      against ``array_repeat(v, n_cells)`` evaluates the cast once per row.
    """
    n_cells = len(centroids)
    structs = []
    for i, c in enumerate(centroids):
        acc = 0.0
        for y in c:
            # the exact fold the r15 expression evaluated JVM-side:
            # ((0.0 + y0*y0) + y1*y1) + ... in float64, then IEEE sqrt
            acc += float(y) * float(y)
        norm = math.sqrt(acc)
        if not math.isfinite(norm):  # nan/inf whenever any element is
            raise ValueError(f"centroid {i} is not finite: no SQL literal")
        structs.append(
            "named_struct('c',array("
            + ",".join(f"{float(x)!r}D" for x in c)
            + f"),'n',{norm!r}D)"
        )
    cents_lit = F.expr("array(" + ",".join(structs) + ")")
    v = vec.cast("array<double>")
    return F.zip_with(
        cents_lit,
        F.array_repeat(v, n_cells),
        lambda s, vv: F.aggregate(
            F.zip_with(vv, s["c"], lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / s["n"],
    )


def assign_cell(vec: Column, centroids) -> Column:
    """0-based id of the best-scoring cell (ties -> lowest cell id, matching
    DuckDB ``list_indexof(scores, list_aggregate(scores, 'max'))``).
    Map-only: evaluates n_cells dot products per row, no shuffle.

    r16: routed through the same struct-sort as :func:`probe_cells` — the
    ``array_position(scores, array_max(scores))`` form referenced the
    scores array TWICE, and higher-order functions are CodegenFallback, so
    every row paid the n_cells x dim scoring twice.  Identical value: the
    sort's (-score, cell) ascending head is the max score at the lowest
    cell id, exactly the array_position tie rule.  A null vector maps to a
    null cell exactly as before (array_position over null scores was null;
    the sort form would otherwise return cell 0 for a tombstone row)."""
    return F.when(vec.isNull(), F.lit(None).cast("int")).otherwise(
        F.element_at(probe_cells(vec, centroids, 1), 1)
    )


def probe_cells(vec: Column, centroids, nprobe: int = DEFAULT_NPROBE) -> Column:
    """Array of the ``nprobe`` best cell ids for a query vector, best first
    (ties -> lowest cell id).  Struct-sort on (-score, cell): map-only."""
    ranked = F.array_sort(
        F.transform(
            _cell_scores(vec, centroids),
            lambda s, i: F.struct((-s).alias("nd"), i.alias("cell")),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cell"])


def ivf_topk(
    queries: DataFrame,
    index: DataFrame,
    centroids=None,
    k: int = 3,
    dim: int | None = None,
    n_cells: int = DEFAULT_N_CELLS,
    nprobe: int = DEFAULT_NPROBE,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
) -> DataFrame:
    """Approximate cosine top-k: probe-cell equi-join -> exact re-rank.

    Both vector columns must be L2-normalized.  Returns the same shape as
    ``knn_exact_expr`` (query_id, doc_id, distance, score, rank) minus any
    neighbor whose cell the query did not probe.
    """
    if centroids is None:
        dim = _resolve_dim(centroids, dim, index, index_vec_col)
        centroids = centroid_grid(dim, n_cells)
    else:
        _resolve_dim(centroids, dim)
    c = index.select(
        F.col(index_id_col).alias("doc_id"),
        F.col(index_vec_col).alias("cvec"),
    ).withColumn("cell", assign_cell(F.col("cvec"), centroids))
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        .withColumn("cells", probe_cells(F.col("qvec"), centroids, nprobe))
        .select("query_id", "qvec", F.explode("cells").alias("cell"))
    )
    cand = c.join(F.broadcast(q), "cell")
    scored = cand.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) - V.dot(F.col("qvec"), F.col("cvec"))).alias("distance"),
    )
    return ranked_topk(scored, k)


def train_centroids(
    index: DataFrame,
    dim: int | None = None,
    n_cells: int = DEFAULT_N_CELLS,
    n_iters: int = 5,
    vec_col: str = "norm_embedding",
    init: str = "sample",
):
    """Distributed Lloyd k-means over the (normalized) corpus vectors.

    Each iteration is one map-only assignment pass (argmax against the
    current centroid literals) plus one hash-agg of ``dim`` ``avg`` columns
    grouped by cell — a single linear shuffle of n_cells x dim partials; the
    collected centroid table is a few KB.  Empty cells keep their previous
    centroid.  Means are re-normalized onto the unit sphere (spherical
    k-means; cells stay cosine-Voronoi).

    ``init='sample'`` seeds from the first ``n_cells`` corpus vectors
    (padded with the deterministic grid if the corpus is smaller) — on
    clustered data this covers the real modes and converges to balanced
    cells; ``init='grid'`` uses the data-independent md5 grid.
    """
    if dim is None:
        # infer from the data — training at a wrong explicit width would
        # cluster truncated vectors and hand every consumer a phantom grid
        dim = len(index.select(vec_col).first()[0])
    cents = [list(c) for c in centroid_grid(dim, n_cells)]
    vecs = index.select(F.col(vec_col).cast("array<double>").alias("nv")).persist()
    if init == "sample":
        seeds = [list(r["nv"]) for r in vecs.limit(n_cells).collect()]
        cents[: len(seeds)] = seeds
    try:
        for _ in range(n_iters):
            assigned = vecs.withColumn(
                "cell", assign_cell(F.col("nv"), tuple(tuple(c) for c in cents))
            )
            means = (
                assigned.groupBy("cell")
                .agg(*[F.avg(F.col("nv")[j]).alias(f"m{j}") for j in range(dim)])
                .collect()
            )
            for row in means:
                m = [row[f"m{j}"] for j in range(dim)]
                norm = sum(x * x for x in m) ** 0.5
                if norm > 0:
                    cents[row["cell"]] = [x / norm for x in m]
    finally:
        vecs.unpersist()
    return tuple(tuple(c) for c in cents)
