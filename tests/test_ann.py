"""Approximate-ANN quality gates (SURVEY.md §5.3): LSH top-k recall vs the
exact brute-force oracle.

Data-geometry note: the driver's synthetic embeddings are near-uniform
random in 64-d — top-10 "neighbors" sit at ~73 deg, barely closer than
random pairs (~90 deg), so NO sublinear-candidate ANN can hold 0.95 recall
there (curse of dimensionality; measured: only 10% of top-10 neighbors
share a cluster label).  We therefore test two regimes:

1. recall-tuned params (3 planes x 16 tables) on the driver corpus —
   recall holds, pruning is necessarily weak on this geometry;
2. default params (8 planes x 8 tables) on a CLUSTERED corpus generated
   in-test — the real-embedding regime — asserting BOTH recall >= 0.95
   AND a candidate set under 35% of the corpus (real pruning).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.ann import (
    ann_lsh_topk,
    lsh_candidates,
)
from vector_search_question_answer_api_spark.operators.search import knn_exact_expr
from vector_search_question_answer_api_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def normed(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id",
        V.l2_normalize(F.col("embedding")).cast("array<double>").alias("nv"),
    ).cache()
    yield d
    d.unpersist()  # plan-level cache leak shadows later identical scans


@pytest.fixture(scope="module")
def clustered(spark):
    """500 points in 10 tight clusters (sigma=0.05 around unit centroids,
    within-cluster angles ~30 deg) — the geometry of real sentence
    embeddings.  (In 64-d, per-dim sigma s gives noise norm ~ s*8, so s
    must be well under 1/8 for clusters to be tight.)"""
    rng = np.random.RandomState(7)
    cents = rng.standard_normal((10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    pts = cents[np.arange(500) % 10] + 0.05 * rng.standard_normal((500, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    d = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(500)],
        "vec_id long, nv array<double>",
    ).cache()
    yield d
    d.unpersist()


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["doc_id"])
    return out


def _recall(exact, approx):
    hits = total = 0
    for qid, want in exact.items():
        got = approx.get(qid, set())
        hits += len(want & got)
        total += len(want)
    return hits / total


def _qi(df, n):
    q = df.limit(n).select(F.col("vec_id").alias("query_id"), F.col("nv").alias("qvec"))
    idx = df.select(F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding"))
    return q, idx


@pytest.mark.parametrize("k", [1, 3, 10])
def test_lsh_recall_uniform_corpus(spark, normed, k):
    q, idx = _qi(normed, 20)
    exact = _topk_sets(knn_exact_expr(q, idx, k=k))
    approx = _topk_sets(ann_lsh_topk(q, idx, k=k, dim=64, n_planes=3, n_tables=16))
    r = _recall(exact, approx)
    assert r >= 0.9, f"recall@{k} = {r:.3f}"


def test_lsh_recall_and_pruning_clustered(spark, clustered):
    q, idx = _qi(clustered, 25)
    exact = _topk_sets(knn_exact_expr(q, idx, k=10))
    approx = _topk_sets(ann_lsh_topk(q, idx, k=10, dim=64, n_planes=6, n_tables=8))
    r = _recall(exact, approx)
    assert r >= 0.95, f"clustered recall@10 = {r:.3f}"
    # pruning: mean candidates per query well below the corpus size
    n_cand = lsh_candidates(q, idx, dim=64, n_planes=6, n_tables=8).count()
    assert n_cand / 25 < 0.35 * 500, f"mean candidates/query = {n_cand / 25:.0f}"


def test_lsh_precision_exact_rerank(spark, normed):
    """Every returned distance must equal the exact distance (re-rank is
    exact; only recall is approximate)."""
    q, idx = _qi(normed, 5)
    exact = {
        (r["query_id"], r["doc_id"]): r["distance"]
        for r in knn_exact_expr(q, idx, k=500).collect()
    }
    for r in ann_lsh_topk(q, idx, k=3, dim=64, n_planes=3, n_tables=16).collect():
        key = (r["query_id"], r["doc_id"])
        assert key in exact
        assert abs(r["distance"] - exact[key]) < 1e-12


def test_ivf_full_probe_equals_exact(spark, normed):
    """nprobe == n_cells probes every cell, so IVF must reproduce the exact
    brute-force top-k bit-for-bit (pruning is the ONLY approximation)."""
    from vector_search_question_answer_api_spark.operators.ivf import ivf_topk

    q, idx = _qi(normed, 10)
    exact = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["distance"])
        for r in knn_exact_expr(q, idx, k=5).collect()
    }
    full = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["distance"])
        for r in ivf_topk(q, idx, k=5, n_cells=16, nprobe=16).collect()
    }
    assert set(full) == set(exact)
    for key, (doc, dist) in exact.items():
        assert full[key][0] == doc
        assert abs(full[key][1] - dist) < 1e-12


def test_ivf_recall_uniform_corpus(spark, normed):
    from vector_search_question_answer_api_spark.operators.ivf import ivf_topk

    q, idx = _qi(normed, 20)
    exact = _topk_sets(knn_exact_expr(q, idx, k=5))
    approx = _topk_sets(ivf_topk(q, idx, k=5, n_cells=16, nprobe=8))
    r = _recall(exact, approx)
    assert r >= 0.7, f"uniform recall@5 (nprobe=8/16) = {r:.3f}"


def test_ivf_kmeans_recall_and_pruning_clustered(spark, clustered):
    """Trained centroids on clustered data: recall holds at nprobe=4/16
    while each query scans well under half the corpus (real pruning)."""
    from vector_search_question_answer_api_spark.operators.ivf import (
        assign_cell,
        ivf_topk,
        train_centroids,
    )

    q, idx = _qi(clustered, 25)
    cents = train_centroids(idx, dim=64, n_cells=16, n_iters=4)
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    exact = _topk_sets(knn_exact_expr(q, idx, k=10))
    approx = _topk_sets(
        ivf_topk(q, idx, centroids=cents, k=10, n_cells=16, nprobe=4)
    )
    r = _recall(exact, approx)
    assert r >= 0.95, f"clustered kmeans recall@10 (nprobe=4/16) = {r:.3f}"
    # pruning: the 4 probed cells hold well under half the corpus
    sizes = {
        r["cell"]: r["n"]
        for r in idx.withColumn("cell", assign_cell(F.col("norm_embedding"), cents))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    worst4 = sum(sorted(sizes.values(), reverse=True)[:4])
    assert worst4 < 0.5 * 500, f"4 largest cells hold {worst4}/500 vectors"


def test_hnsw_tier_gated_or_correct(spark, normed):
    """Tier B (``NumpyHNSW``, always available since r5): graphs are
    built per partition, queried with the reference's ef=50, and globally
    merged; recall vs exact must be >=0.9 at k=1 AND k=5 on the driver
    corpus."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    q, idx = _qi(normed, 10)
    graphs = ann_hnsw.build_partitioned_hnsw(idx, dim=64)
    for k in (1, 5):
        got = _topk_sets(ann_hnsw.hnsw_topk(spark, graphs, q, k=k))
        exact = _topk_sets(knn_exact_expr(q, idx, k=k))
        assert _recall(exact, got) >= 0.9, k


def _duckdb_signatures(rows, dim, n_planes, n_tables, center=None):
    """{id: signatures} computed by DuckDB the way
    ``inventory._ann_oracle_sql`` computes them — ``list_dot_product(v,
    plane) >= offset`` over literal +/-1 planes — with the centered
    offsets from ``_center_offsets`` (zero when uncentered)."""
    import duckdb
    import pandas as pd

    from vector_search_question_answer_api_spark.operators.ann import (
        _center_offsets,
        hyperplanes,
    )

    planes = hyperplanes(dim, n_planes, n_tables)
    offs = (
        _center_offsets(center, dim, n_planes, n_tables)
        if center is not None
        else [0.0] * (n_tables * n_planes)
    )
    sig_exprs = []
    for t in range(n_tables):
        cases = " || ".join(
            "CASE WHEN list_dot_product(v, ["
            + ",".join(f"{float(x):.1f}" for x in planes[t][p])
            # the offset as a string cast: a bare literal would parse as
            # DECIMAL and round before the comparison
            + f"]) >= '{float(offs[t * n_planes + p])!r}'::DOUBLE"
            + " THEN '1' ELSE '0' END"
            for p in range(n_planes)
        )
        sig_exprs.append(f"concat('t{t}:', {cases})")
    con = duckdb.connect()
    try:
        con.register(
            "vecs",
            pd.DataFrame(
                [(i, [float(x) for x in v]) for i, v in rows], columns=["id", "v"]
            ),
        )
        got = con.sql(
            f"SELECT id, [{', '.join(sig_exprs)}] FROM vecs"
        ).fetchall()
    finally:
        con.close()
    return {i: list(sigs) for i, sigs in got}


def test_lsh_signature_arrow_equals_duckdb_oracle(spark, normed):
    """The Arrow signature kernel must be BIT-identical to the DuckDB
    oracle's ``list_dot_product(v, plane) >= offset`` (same left-to-right
    float64 fold), including at sign boundaries — uncentered (the
    ``ann_lsh_topk`` gate's form) and centered on the corpus mean."""
    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
        with_lsh_signatures,
    )

    base = normed.select("vec_id", F.col("nv").alias("v"))
    rows = [(r["vec_id"], r["v"]) for r in base.collect()]
    for center in (None, corpus_center(base, "v")):
        got = {
            r["vec_id"]: list(r["lsh_sigs"])
            for r in with_lsh_signatures(
                base, "v", 64, n_planes=3, n_tables=16, center=center
            ).collect()
        }
        ref = _duckdb_signatures(rows, 64, 3, 16, center)
        assert len(got) == len(rows) > 0
        assert got == ref, "centered" if center else "uncentered"


def test_numpy_hnsw_insertion_order_independent():
    """The graph answers identically regardless of the row order handed to
    one add_items call (rows are sorted by label before insertion, and
    level draws hash the label, not the position) — the property that
    makes per-partition builds deterministic under Spark's arbitrary
    batch order."""
    import numpy as np

    from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW

    rng = np.random.RandomState(11)
    pts = rng.standard_normal((300, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    labels = np.arange(300)

    def build(order):
        g = NumpyHNSW(64, m=16, ef_construction=100)
        g.add_items(pts[order], labels[order])
        return g

    a = build(np.arange(300))
    b = build(rng.permutation(300))
    q = pts[:15]
    la, da = a.knn_query(q, k=5, ef=50)
    lb, db = b.knn_query(q, k=5, ef=50)
    assert (la == lb).all()
    assert np.allclose(da, db)


def test_numpy_hnsw_exactness_on_tiny_corpus():
    """With ef >= n the beam search degenerates to exhaustive scan: the
    result must equal the brute-force ranking exactly, ties broken by
    label."""
    import numpy as np

    from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW

    rng = np.random.RandomState(3)
    pts = rng.standard_normal((60, 16))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    g = NumpyHNSW(16, m=8, ef_construction=60)
    g.add_items(pts, np.arange(60))
    labels, dists = g.knn_query(pts[:10], k=5, ef=60)
    sims = pts[:10] @ pts.T
    for i in range(10):
        d = 1.0 - sims[i]
        want = np.lexsort((np.arange(60), d))[:5]
        assert labels[i].tolist() == want.tolist()
        assert np.allclose(dists[i], d[want])


def test_celled_hnsw_exhaustive_probe_equals_ivf(spark, clustered):
    """With ef >= cell size the per-cell graph walk is exhaustive inside
    the probed cells, so the cell-routed composition must reproduce
    ivf_topk for the same (centroids, nprobe) — same ids and ranks,
    distances within float rounding."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        ivf_topk,
        train_centroids,
    )

    q, idx = _qi(clustered, 10)
    cents = train_centroids(idx, dim=64, n_cells=8, n_iters=3)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["distance"])
        for r in ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, q, centroids=cents, k=5, ef=600,
            dim=64, n_cells=8, nprobe=2,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["distance"])
        for r in ivf_topk(
            q, idx, centroids=cents, k=5, n_cells=8, nprobe=2
        ).collect()
    }
    assert set(got) == set(want) and got
    for key, (doc, dist) in want.items():
        assert got[key][0] == doc, (key, got[key], (doc, dist))
        assert abs(got[key][1] - dist) < 1e-9


def test_celled_hnsw_recall_at_working_ef(spark, clustered):
    """At the reference's working ef=50 the cell-routed walk keeps
    recall >= 0.9 vs exact on the clustered corpus (trained coarse
    routing, nprobe=4/8)."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import train_centroids

    q, idx = _qi(clustered, 25)
    cents = train_centroids(idx, dim=64, n_cells=8, n_iters=3)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8
    )
    got = _topk_sets(
        ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, q, centroids=cents, k=10, ef=50,
            dim=64, n_cells=8, nprobe=4,
        )
    )
    exact = _topk_sets(knn_exact_expr(q, idx, k=10))
    assert _recall(exact, got) >= 0.9


def test_numpy_hnsw_short_reach_pads_with_sentinel():
    """ADVICE r5 (medium): when the level-0 beam reaches fewer than k
    nodes (shrink-to-Mmax can disconnect a region), the output tail must
    be label=-1 / dist=+inf sentinels — NOT uninitialized memory, which
    could sort to rank 1 in an ascending merge.  Force the condition by
    severing every level-0 link so only the entry node is reachable."""
    import numpy as np

    from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW

    rng = np.random.RandomState(7)
    pts = rng.standard_normal((20, 8))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    g = NumpyHNSW(8, m=4, ef_construction=20)
    g.add_items(pts, np.arange(20))
    for links in g.links:  # simulate a fully disconnected level 0
        links[0] = []
    labels, dists = g.knn_query(pts[:3], k=5, ef=50)
    assert labels.shape == (3, 5)
    # exactly one real result per query (the greedy-descent entry point)
    assert np.isfinite(dists[:, 0]).all()
    assert (labels[:, 0] >= 0).all()
    assert (labels[:, 1:] == -1).all()
    assert np.isinf(dists[:, 1:]).all()


def _severed_graph(spark):
    """(points, graphs): a 20-node graph row whose level-0 links are all
    cut, so every beam reaches only its entry node."""
    import pickle

    from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW

    rng = np.random.RandomState(9)
    pts = rng.standard_normal((20, 8))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    g = NumpyHNSW(8, m=4, ef_construction=20)
    g.add_items(pts, np.arange(20))
    for links in g.links:
        links[0] = []
    graphs = spark.createDataFrame(
        [(20, bytearray(pickle.dumps(g)))], "n long, graph binary"
    )
    return pts, graphs


def test_hnsw_topk_drops_disconnection_padding(spark):
    """The Spark-side walk must FILTER the sentinel rows: a graph whose
    beam returns fewer than k candidates contributes only its real rows
    to the merge — no doc_id=-1, no inf distances in the result.  Both
    walkers are pinned: the flat ``hnsw_topk`` and the celled tier's
    cogrouped walk (the graph row and the routed queries in cell 0)."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    pts, graphs = _severed_graph(spark)
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(3)],
        "query_id long, qvec array<double>",
    )
    rows = ann_hnsw.hnsw_topk(spark, graphs, queries, k=5).collect()
    assert len(rows) == 3  # one reachable node per query, not 3*k
    assert all(r["doc_id"] >= 0 for r in rows)
    assert all(np.isfinite(r["distance"]) for r in rows)
    cells = graphs.select(F.lit(0).alias("cell"), "n", "graph")
    routed = queries.withColumn("cell", F.lit(0))
    cand = ann_hnsw._cogrouped_walk(cells, routed, ef=50, k=5).collect()
    assert len(cand) == 3
    assert all(r["doc_id"] >= 0 for r in cand)
    assert all(np.isfinite(r["distance"]) for r in cand)


def test_hnsw_topk_empty_query_batch(spark):
    """Zero queries walk to zero rows: an empty query relation must give
    an empty ``(query_id, doc_id, distance, score, rank)`` result, not a
    worker error from ``knn_query`` reading the empty matrix as one
    zero-width query."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    _, graphs = _severed_graph(spark)
    queries = spark.createDataFrame([], "query_id long, qvec array<double>")
    res = ann_hnsw.hnsw_topk(spark, graphs, queries, k=5)
    assert res.columns == ["query_id", "doc_id", "distance", "score", "rank"]
    assert res.collect() == []


@pytest.mark.parametrize("shape", [(0,), (0, 16)])
def test_numpy_hnsw_knn_query_empty_matrix(shape):
    """Zero queries in, ``(0, k)`` labels and distances out: a flat
    ``(0,)`` matrix is no queries, not one zero-width query."""
    from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW

    rng = np.random.RandomState(5)
    g = NumpyHNSW(16, m=4, ef_construction=20)
    g.add_items(rng.standard_normal((20, 16)), np.arange(20))
    labels, dists = g.knn_query(np.empty(shape), k=5)
    assert labels.shape == dists.shape == (0, 5)
    assert labels.dtype == np.int64 and dists.dtype == np.float64


def test_celled_hnsw_index_roundtrip_and_partition_pruning(
    spark, clustered, tmp_path
):
    """The materialized graph index (cell-partitioned parquet of blobs)
    answers identically to the in-memory graphs frame, and a probed-cell
    filter on the re-read index reaches the scan as a partition filter."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        probe_cells,
        train_centroids,
    )

    q, idx = _qi(clustered, 10)
    cents = train_centroids(idx, dim=64, n_cells=8, n_iters=3)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8
    )
    path = str(tmp_path / "hnsw_cells")
    ann_hnsw.write_celled_hnsw_index_managed(graphs, path)
    reread = ann_hnsw.read_celled_hnsw_index(spark, path)
    kwargs = dict(centroids=cents, k=5, ef=50, dim=64, n_cells=8, nprobe=4)
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
        for r in ann_hnsw.celled_hnsw_topk_cogrouped(graphs, q, **kwargs).collect()
    }
    probed = [
        r["cell"]
        for r in q.select(
            F.explode(probe_cells(F.col("qvec"), cents, 4)).alias("cell")
        ).distinct().collect()
    ]
    got_df = ann_hnsw.celled_hnsw_topk_cogrouped(
        reread.filter(F.col("cell").isin(probed)), q, **kwargs
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
        for r in got_df.collect()
    }
    assert got == want and got
    # probed-cell pruning is physical: the scan carries a cell partition
    # filter, so unprobed cell directories are never read
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and any("PartitionFilters: [cell" in ln for ln in scans), scans
    # the cogrouped form reads the same artifact identically
    cg = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
        for r in ann_hnsw.celled_hnsw_topk_cogrouped(
            reread, q, **kwargs
        ).collect()
    }
    assert cg == want


def test_knn_graph_matches_exact_neighbors(spark, clustered):
    """The corpus k-NN graph (self-query through the cogrouped walk) must
    recover the exact per-row neighbors at exhaustive settings, never
    contain a self-match, and emit exactly k rows per corpus row."""
    import numpy as np

    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import train_centroids

    _, idx = _qi(clustered, 1)
    cents = train_centroids(idx, dim=64, n_cells=8, n_iters=3)
    got = ann_hnsw.knn_graph(
        idx, centroids=cents, k=3, ef=600, dim=64, n_cells=8, nprobe=8
    ).collect()
    by_q = {}
    for r in got:
        assert r["query_id"] != r["doc_id"], "self-match leaked"
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    assert len(by_q) == 500
    assert all(len(v) == 3 for v in by_q.values())
    # exact reference: brute-force neighbors excluding self
    rows = sorted(
        ((r["doc_id"], r["norm_embedding"]) for r in idx.collect())
    )
    ids = np.array([i for i, _ in rows])
    mat = np.array([v for _, v in rows])
    sims = mat @ mat.T
    for qpos in range(0, 500, 50):  # sample every 50th row
        d = 1.0 - sims[qpos]
        order = np.lexsort((ids, d))
        want = [int(ids[j]) for j in order if ids[j] != ids[qpos]][:3]
        have = [doc for _, doc in sorted(by_q[int(ids[qpos])])]
        assert have == want, (ids[qpos], have, want)


def test_celled_hnsw_salted_equals_unsalted_at_exhaustive_ef(spark, clustered):
    """cell_salts shards a hot cell into several graphs under the SAME
    cell key; the shards partition the cell, so at exhaustive ef the
    salted layout must emit exactly the unsalted result, and the salted
    build must emit more graph rows."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import train_centroids

    q, idx = _qi(clustered, 10)
    cents = train_centroids(idx, dim=64, n_cells=8, n_iters=3)
    plain = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8
    ).cache()
    salted = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8,
        cell_salts=4,
    ).cache()
    assert salted.count() > plain.count()
    kwargs = dict(centroids=cents, k=5, ef=600, dim=64, n_cells=8, nprobe=2)

    def keyed(df):
        return {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
            for r in df.collect()
        }

    want = keyed(ann_hnsw.celled_hnsw_topk_cogrouped(plain, q, **kwargs))
    assert keyed(
        ann_hnsw.celled_hnsw_topk_cogrouped(salted, q, **kwargs)
    ) == want
    assert want


def test_celled_hnsw_salted_recall_at_working_ef(spark, clustered):
    """Salting must not dent working-ef recall: each shard's graph walk
    is still HNSW over its shard, and the union covers the cell."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import train_centroids

    q, idx = _qi(clustered, 25)
    cents = train_centroids(idx, dim=64, n_cells=8, n_iters=3)
    salted = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8,
        cell_salts=4,
    )
    got = _topk_sets(
        ann_hnsw.celled_hnsw_topk_cogrouped(
            salted, q, centroids=cents, k=10, ef=50,
            dim=64, n_cells=8, nprobe=4,
        )
    )
    exact = _topk_sets(knn_exact_expr(q, idx, k=10))
    assert _recall(exact, got) >= 0.9


def test_recommended_n_planes_codifies_sweep_rule():
    """The r5-addendum signature-length rule as code: at the sweep's
    largest corpus (512k vectors x 8 tables) the rule must prescribe the
    20 planes measured near-linear in SCALING.md; small corpora floor at
    the 8-plane default."""
    from vector_search_question_answer_api_spark.operators.ann import (
        DEFAULT_N_PLANES,
        recommended_n_planes,
    )

    assert recommended_n_planes(512_000, n_tables=8, cand_per_row=4) == 20
    # the floor engages once 2^DEFAULT already covers the budget
    assert recommended_n_planes(128) == DEFAULT_N_PLANES
    assert recommended_n_planes(0) == DEFAULT_N_PLANES
    # monotone in corpus size; +4 planes per 16x (the measured knee shift)
    p1 = recommended_n_planes(512_000)
    p2 = recommended_n_planes(512_000 * 16)
    assert p2 == p1 + 4


def test_recommended_lsh_params_fixed_point():
    """Joint (planes, tables) sizing: tighter thresholds are cheap (near-
    dup at 0.99 needs few tables), looser thresholds must RAISE tables to
    hold recall at the longer signature, and an un-LSH-able target hits
    the max_tables cap instead of looping."""
    from vector_search_question_answer_api_spark.operators.ann import (
        recommended_lsh_params,
    )

    p_hi, t_hi = recommended_lsh_params(512_000, min_sim=0.99)
    p_lo, t_lo = recommended_lsh_params(512_000, min_sim=0.80)
    assert p_hi >= 20 and t_hi <= 8  # tight threshold: tables stay cheap
    assert t_lo > t_hi  # looser threshold costs tables at fixed recall
    # the fixed point is stable: re-deriving planes from the returned
    # tables changes nothing
    from vector_search_question_answer_api_spark.operators.ann import (
        recommended_n_planes,
    )

    assert recommended_n_planes(512_000, t_hi) == p_hi
    # orthogonal-ish threshold (random 64-dim pairs) is not LSH-able at
    # 0.95 recall -> capped, not divergent
    _, t_cap = recommended_lsh_params(512_000, min_sim=0.10, max_tables=64)
    assert t_cap == 64


def test_lsh_centering_splits_clustered_corpus(spark):
    """Centered SRP (hyperplanes through the corpus mean) on a tight
    cluster: origin-through planes put most of the cluster in one bucket
    (none of them pass through it), the centered planes split it.  Also
    pins: (a) a query identical to a corpus vector shares every signature
    under ANY center — the transform is the same on both sides; (b) the
    arrow kernel stays bit-identical to the DuckDB oracle with offsets."""
    import numpy as np

    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
        with_lsh_signatures,
    )

    rng = np.random.default_rng(7)
    mu = rng.normal(size=16)
    mu /= np.linalg.norm(mu)
    pts = mu + 0.05 * rng.normal(size=(200, 16))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "id long, v array<double>",
    ).cache()

    def max_bucket(center):
        sigs = with_lsh_signatures(
            df, "v", 16, n_planes=8, n_tables=4, center=center
        ).select(F.explode("lsh_sigs").alias("sig"))
        return sigs.groupBy("sig").count().agg(F.max("count")).first()[0]

    center = corpus_center(df, "v")
    un, ce = max_bucket(None), max_bucket(center)
    assert un >= 150, un  # the cluster collapses into one origin bucket
    assert ce <= un // 3, (un, ce)  # centering splits it

    # (a) self-collision invariance under centering
    a = with_lsh_signatures(df, "v", 16, 8, 4, center=center).select(
        "id", F.col("lsh_sigs").alias("a")
    )
    b = with_lsh_signatures(df, "v", 16, 8, 4, center=center).select(
        "id", F.col("lsh_sigs").alias("b")
    )
    assert a.join(b, "id").filter(F.col("a") != F.col("b")).count() == 0

    # (b) arrow == DuckDB oracle bit-identity with offsets
    got = {r["id"]: list(r["a"]) for r in a.collect()}
    assert got == _duckdb_signatures(enumerate(pts), 16, 8, 4, center)
    df.unpersist()


def test_lsh_center_edge_cases(spark):
    """Empty-corpus center (()) degrades to the uncentered origin planes;
    a width-mismatched center raises instead of mis-slicing."""
    import pytest as _pytest

    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
        with_lsh_signatures,
    )

    empty = spark.createDataFrame([], "id long, v array<double>")
    assert corpus_center(empty, "v") == ()
    df = spark.createDataFrame([(0, [1.0] * 8)], "id long, v array<double>")
    un = with_lsh_signatures(df, "v", 8, 4, 2).select("lsh_sigs").first()[0]
    via_empty = with_lsh_signatures(df, "v", 8, 4, 2, center=()).select(
        "lsh_sigs"
    ).first()[0]
    assert un == via_empty
    with _pytest.raises(ValueError, match="center has"):
        with_lsh_signatures(df, "v", 8, 4, 2, center=(0.0,) * 5).select(
            "lsh_sigs"
        ).first()


def test_lsh_artifact_roundtrip(spark, tmp_path):
    """The persisted signature artifact (VERDICT r9 missing #1): the
    data-derived center rides a manifest next to the index like PQ
    codebooks, a consumer reproduces build-time signatures bit-for-bit
    from the manifest alone, and a foreign plane family refuses to load
    instead of silently re-hashing."""
    import json
    import os

    import numpy as np

    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
        read_lsh_artifact,
        signatures_from_artifact,
        with_lsh_signatures,
        write_lsh_artifact,
    )

    rng = np.random.default_rng(11)
    mu = rng.normal(size=16)
    mu /= np.linalg.norm(mu)
    pts = mu + 0.05 * rng.normal(size=(60, 16))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "id long, v array<double>",
    )
    center = corpus_center(df, "v")
    path = str(tmp_path / "lsh_art")
    write_lsh_artifact(path, dim=16, n_planes=6, n_tables=3, center=center)
    art = read_lsh_artifact(path)
    assert art["dim"] == 16 and art["n_planes"] == 6 and art["n_tables"] == 3
    assert art["center"] == tuple(center)

    direct = with_lsh_signatures(
        df, "v", 16, n_planes=6, n_tables=3, center=center
    ).select("id", F.col("lsh_sigs").alias("a"))
    via = signatures_from_artifact(df, "v", art).select(
        "id", F.col("lsh_sigs").alias("b")
    )
    assert direct.join(via, "id").filter(F.col("a") != F.col("b")).count() == 0
    # path form delegates to read_lsh_artifact
    via_path = signatures_from_artifact(df, "v", path).select(
        "id", F.col("lsh_sigs").alias("b")
    )
    assert (
        direct.join(via_path, "id").filter(F.col("a") != F.col("b")).count()
        == 0
    )

    # uncentered manifest round-trips None
    p2 = str(tmp_path / "lsh_art2")
    write_lsh_artifact(p2, dim=16)
    assert read_lsh_artifact(p2)["center"] is None

    # width-mismatched center refused at WRITE time
    with pytest.raises(ValueError, match="center has"):
        write_lsh_artifact(str(tmp_path / "bad"), dim=16, center=(0.0,) * 5)

    # foreign family refused at READ time
    man = os.path.join(path, "_lsh_manifest.json")
    m = json.load(open(man))
    m["family"] = "someone-elses-lsh-v9"
    json.dump(m, open(man, "w"))
    with pytest.raises(ValueError, match="plane family"):
        read_lsh_artifact(path)


def test_recommended_lsh_params_recall_bounds():
    """target_recall at or beyond the open interval must size for the
    nearest representable target, not raise math-domain errors from
    inside the fixed point (ADVICE r9)."""
    from vector_search_question_answer_api_spark.operators.ann import (
        recommended_lsh_params,
    )

    p_hi, t_hi = recommended_lsh_params(10_000, 0.9, target_recall=1.0)
    assert p_hi >= 8 and 1 <= t_hi <= 64
    p_lo, t_lo = recommended_lsh_params(10_000, 0.9, target_recall=0.0)
    assert t_lo >= 1
    # a recall target of ~1.0 needs at least as many tables as 0.95
    _, t_mid = recommended_lsh_params(10_000, 0.9, target_recall=0.95)
    assert t_hi >= t_mid


def test_corpus_center_null_and_malformed(spark):
    """Null vectors are skipped for both dim inference and the mean
    (ADVICE r9: a null FIRST row used to raise int(None)); an all-null
    relation degrades to the empty center; a corpus whose vectors are
    shorter than dim raises instead of inventing 0.0 components."""
    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
    )

    df = spark.createDataFrame(
        [(0, None), (1, [2.0, 4.0]), (2, [4.0, 8.0])],
        "id long, v array<double>",
    )
    assert corpus_center(df, "v") == (3.0, 6.0)
    allnull = spark.createDataFrame(
        [(0, None), (1, None)], "id long, v array<double>"
    )
    assert corpus_center(allnull, "v") == ()
    short = spark.createDataFrame(
        [(0, [1.0, 2.0])], "id long, v array<double>"
    )
    with pytest.raises(ValueError, match="component"):
        corpus_center(short, "v", dim=4)


def test_lsh_ondisk_index_equals_inmemory_tier(spark, clustered, tmp_path):
    """write_lsh_index + ann_lsh_topk_ondisk == the in-memory ann_lsh_topk
    at the manifest's exact knobs (centered): the stored signature table
    and the query-side manifest hashing collide bit-identically, and the
    deferred vector fetch re-ranks exactly — so the relations are equal
    row-for-row.  Also pins dim inference at write time and that the
    stored table never carries vectors (the deferred-fetch contract is
    physical)."""
    from vector_search_question_answer_api_spark.operators.ann import (
        ann_lsh_topk,
        ann_lsh_topk_ondisk,
        corpus_center,
        write_lsh_index,
    )

    idx = clustered.select(
        F.col("vec_id").alias("doc_id"),
        F.col("nv").alias("norm_embedding"),
    )
    center = corpus_center(idx)
    q = idx.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    path = str(tmp_path / "lsh_index")
    write_lsh_index(idx, path, n_planes=10, n_tables=4, center=center)

    def rel(df):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in df.collect()
        }

    mem = rel(
        ann_lsh_topk(q, idx, k=5, dim=64, n_planes=10, n_tables=4, center=center)
    )
    disk = rel(ann_lsh_topk_ondisk(spark, q, path, idx, k=5))
    assert mem and disk == mem

    stored = spark.read.parquet(f"{path}/signatures")
    assert set(stored.columns) == {"doc_id", "sig"}  # no vector bytes
    # shuffled-join form (100 TB query side) emits the same relation
    disk_shuffle = rel(
        ann_lsh_topk_ondisk(spark, q, path, idx, k=5, broadcast_queries=False)
    )
    assert disk_shuffle == mem


def test_lsh_signature_width_mismatch_raises(spark):
    """The r9 dim-inference lesson applied to SRP: vectors whose width
    disagrees with the declared dim (e.g. a manifest from one index
    queried with another's vectors) raise a clear error instead of
    mis-slicing inside the kernel."""
    from vector_search_question_answer_api_spark.operators.ann import (
        with_lsh_signatures,
    )

    df = spark.createDataFrame([(0, [1.0] * 8)], "id long, v array<double>")
    with pytest.raises(Exception, match="components for dim"):
        with_lsh_signatures(df, "v", 16, 4, 2).select("lsh_sigs").collect()


def test_ann_lsh_topk_artifact_param(spark, clustered, tmp_path):
    """ann_lsh_topk(artifact=...) == the hand-threaded centered call —
    the last SRP consumer wired to the persisted manifest."""
    from vector_search_question_answer_api_spark.operators.ann import (
        ann_lsh_topk,
        corpus_center,
        write_lsh_artifact,
    )

    idx = clustered.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    center = corpus_center(idx)
    q = idx.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    )
    path = str(tmp_path / "art")
    write_lsh_artifact(path, dim=64, n_planes=10, n_tables=4, center=center)

    def rel(df):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in df.collect()
        }

    manual = rel(
        ann_lsh_topk(q, idx, k=5, dim=64, n_planes=10, n_tables=4, center=center)
    )
    via = rel(ann_lsh_topk(q, idx, k=5, artifact=path))
    assert manual and via == manual


def test_pruned_celled_hnsw_equals_unpruned(spark, clustered):
    """Lossless probe pruning (celled_hnsw_topk_pruned): the relation
    EQUALS the unpruned cogrouped tier for the same knobs — on trained
    (separated-cluster) centroids AND on the data-independent grid (large
    radii, prune rarely fires) — while the phase-2 routing provably walks
    fewer (query, cell) pairs on self-hit queries under the trained
    layout."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.caching import unpersist_all
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        centroid_grid,
        train_centroids,
    )

    idx = clustered.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    q = idx.limit(20).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    )

    def rel(df):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in df.collect()
        }

    for cents in (
        train_centroids(idx, n_cells=8, n_iters=4),
        centroid_grid(64, 8),
    ):
        graphs = ann_hnsw.build_celled_hnsw(
            idx, centroids=cents, dim=64, n_cells=8
        ).persist()
        radii = ann_hnsw.cell_radii(idx, centroids=cents, n_cells=8)
        assert len(radii) == 8 and all(r >= 0.0 for r in radii)
        base = rel(
            ann_hnsw.celled_hnsw_topk_cogrouped(
                graphs, q, centroids=cents, k=3, ef=20, dim=64,
                n_cells=8, nprobe=4,
            )
        )
        pruned = rel(
            ann_hnsw.celled_hnsw_topk_pruned(
                graphs, q, radii, centroids=cents, k=3, ef=20, dim=64,
                n_cells=8, nprobe=4,
            )
        )
        unpersist_all()
        assert base and pruned == base
        graphs.unpersist()

    # prune-rate check on the trained layout: self-hit queries resolve at
    # d_k ~ 0 in their rank-1 cell, so separated clusters skip most
    # phase-2 probes
    cents = train_centroids(idx, n_cells=8, n_iters=4)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8
    ).persist()
    radii = ann_hnsw.cell_radii(idx, centroids=cents, n_cells=8)
    routed1 = q.withColumn(
        "cell",
        F.element_at(
            __import__(
                "vector_search_question_answer_api_spark.operators.ivf",
                fromlist=["probe_cells"],
            ).probe_cells(F.col("qvec"), cents, 1),
            1,
        ),
    )
    cand1 = ann_hnsw._cogrouped_walk(graphs, routed1, ef=20, k=3)
    dk = cand1.groupBy("query_id").agg(
        F.max("distance").alias("_dk"), F.count("*").alias("_got")
    ).select(
        "query_id",
        F.when(F.col("_got") >= 3, F.col("_dk"))
        .otherwise(F.lit(float("inf")))
        .alias("d_k"),
    )
    kept = ann_hnsw._pruned_phase2_routing(q, dk, cents, radii, 4).count()
    full = 20 * 3  # ranks 2..4 for 20 queries
    assert kept < full, (kept, full)
    graphs.unpersist()
    unpersist_all()


def test_cell_radii_sidecar_roundtrip_serves_pruned(spark, clustered, tmp_path):
    """Radii persist next to the stored graph index (atomic sidecar, like
    the LSH manifest) and the reloaded values serve the pruned tier with
    the same pinned equality."""
    from vector_search_question_answer_api_spark.caching import unpersist_all
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        train_centroids,
    )

    idx = clustered.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    cents = train_centroids(idx, n_cells=8, n_iters=3)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8
    ).persist()
    radii = ann_hnsw.cell_radii(idx, centroids=cents, n_cells=8)
    path = str(tmp_path / "graph_store")
    ann_hnsw.write_cell_radii(path, radii)
    assert ann_hnsw.read_cell_radii(path) == tuple(radii)

    q = idx.limit(10).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    )

    def rel(df):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in df.collect()
        }

    base = rel(
        ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, q, centroids=cents, k=3, ef=20, dim=64, n_cells=8, nprobe=3
        )
    )
    via = rel(
        ann_hnsw.celled_hnsw_topk_pruned(
            graphs, q, ann_hnsw.read_cell_radii(path), centroids=cents,
            k=3, ef=20, dim=64, n_cells=8, nprobe=3,
        )
    )
    unpersist_all()
    graphs.unpersist()
    assert base and via == base


def test_pruned_equals_unpruned_on_salted_layout(spark, clustered):
    """VERDICT r10 #3: probe pruning composes with hot-cell salting.  A
    salted layout holds SEVERAL graph rows per base cell; phase 1 walks
    every shard of the rank-1 cell (the same union the unpruned walker
    does), the per-cell radius bounds every shard's members (shards
    partition the cell), and a skipped cell skips all shards together —
    pruned == unpruned on a salted clustered layout, with a NONZERO
    prune rate."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.caching import unpersist_all
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        probe_cells,
        train_centroids,
    )

    idx = clustered.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    q = idx.limit(20).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    )
    cents = train_centroids(idx, n_cells=8, n_iters=4)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=8,
        cell_salts=3,
    ).persist()
    # really salted: at least one cell holds more than one graph row
    per_cell = graphs.groupBy("cell").count().collect()
    assert max(r["count"] for r in per_cell) > 1
    radii = ann_hnsw.cell_radii(idx, centroids=cents, n_cells=8)

    def rel(df):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in df.collect()
        }

    base = rel(
        ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, q, centroids=cents, k=3, ef=20, dim=64, n_cells=8,
            nprobe=4,
        )
    )
    pruned = rel(
        ann_hnsw.celled_hnsw_topk_pruned(
            graphs, q, radii, centroids=cents, k=3, ef=20, dim=64,
            n_cells=8, nprobe=4,
        )
    )
    unpersist_all()
    assert base and pruned == base

    # prune rate on the salted layout, through the production d_k helper
    # (exact k-th smallest — salted phase 1 emits up to salts*k rows)
    routed1 = q.withColumn(
        "cell", F.element_at(probe_cells(F.col("qvec"), cents, 1), 1)
    )
    cand1 = ann_hnsw._cogrouped_walk(graphs, routed1, ef=20, k=3)
    dk = ann_hnsw._phase1_dk(cand1, 3)
    kept = ann_hnsw._pruned_phase2_routing(q, dk, cents, radii, 4).count()
    full = 20 * 3  # ranks 2..4 for 20 queries
    assert kept < full, (kept, full)
    graphs.unpersist()


def test_recommended_probe_pruning_rule(spark, clustered):
    """The measured r10 crossover as a predicate (VERDICT r10 #6): the
    clustered real-text geometry (small radii vs inter-centroid gaps,
    measured 1.55x faster pruned) recommends pruning; the near-uniform
    geometry (radii swallow the sphere, measured 1.7x slower) does not."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        train_centroids,
    )

    idx = clustered.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    cents = train_centroids(idx, n_cells=8, n_iters=4)
    radii = ann_hnsw.cell_radii(idx, centroids=cents, n_cells=8)
    assert ann_hnsw.recommended_probe_pruning(radii, cents) is True

    # near-uniform corpus: 500 isotropic unit vectors, trained centroids —
    # per-cell radii approach the inter-centroid gaps and no ball pair is
    # disjoint (the geometry where the measured bound never fired)
    rng = np.random.RandomState(11)
    pts = rng.standard_normal((500, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    uni = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(500)],
        "doc_id long, norm_embedding array<double>",
    )
    ucents = train_centroids(uni, n_cells=8, n_iters=4)
    uradii = ann_hnsw.cell_radii(uni, centroids=ucents, n_cells=8)
    assert ann_hnsw.recommended_probe_pruning(uradii, ucents) is False

    # degenerate layouts refuse or decline honestly
    with pytest.raises(ValueError, match="radii"):
        ann_hnsw.recommended_probe_pruning(radii[:-1], cents)
    assert (
        ann_hnsw.recommended_probe_pruning([0.0] * len(cents), cents) is False
    )


def test_cell_scores_non_finite_centroid_raises(spark):
    """A nan/inf centroid value has no SQL literal form (it rendered as
    ``nanD``/``infD`` and failed inside ``F.expr``): the centroid literal
    refuses it by index, and a finite centroid whose norm overflows
    float64 is refused the same way."""
    from vector_search_question_answer_api_spark.operators import ivf

    for bad in (float("nan"), float("-inf"), 1e200):
        cents = [list(c) for c in ivf.centroid_grid(8, 4)]
        cents[2][3] = bad
        with pytest.raises(ValueError, match="centroid 2 is not finite"):
            ivf.assign_cell(F.col("v"), cents)


def test_cell_scores_hoisted_bit_identical_to_r15_form(spark, normed):
    """r16 optimization pin: hoisting the centroid norms (python fold,
    same left-to-right float64 sum + IEEE sqrt) and the query-vector cast
    out of the per-centroid lambda must leave every score bit-identical,
    and assign_cell must keep its exact value semantics (incl. null
    vector -> null cell)."""
    from vector_search_question_answer_api_spark.operators import ivf

    cents = ivf.centroid_grid(64, 16)

    def r15_scores(vec, centroids):
        cents_lit = V.nested_array_lit(centroids)
        v = vec.cast("array<double>")
        return F.transform(
            cents_lit,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.sqrt(
                F.aggregate(
                    F.transform(c, lambda y: y * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
        )

    def r15_assign(vec, centroids):
        s = r15_scores(vec, centroids)
        return (F.array_position(s, F.array_max(s)) - 1).cast("int")

    df = normed.unionByName(
        spark.createDataFrame([(10_000_000, None)], "vec_id long, nv array<double>")
    )
    got = df.select(
        "vec_id",
        r15_scores(F.col("nv"), cents).alias("old_s"),
        ivf._cell_scores(F.col("nv"), cents).alias("new_s"),
        r15_assign(F.col("nv"), cents).alias("old_c"),
        ivf.assign_cell(F.col("nv"), cents).alias("new_c"),
    ).collect()
    assert got
    for r in got:
        assert r["old_s"] == r["new_s"], r["vec_id"]
        assert r["old_c"] == r["new_c"], r["vec_id"]
