"""Search operator tests: strategy equivalence, self-retrieval, thresholds,
top-k properties (SURVEY.md §5.1/5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.index_build import build_index, is_fresh
from vector_search_question_answer_api_spark.operators.search import (
    attach_documents,
    knn_exact_expr,
    knn_exact_partitioned,
)
from vector_search_question_answer_api_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def norm_embeddings(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        F.col("vec_id").alias("doc_id"),
        V.l2_normalize(F.col("embedding")).alias("norm_embedding"),
    ).cache()


@pytest.fixture(scope="module")
def query_vecs(norm_embeddings):
    return norm_embeddings.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    )


def _rows(df):
    return [
        (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
        for r in df.orderBy("query_id", "rank").collect()
    ]


def test_strategies_agree(query_vecs, norm_embeddings):
    a = _rows(knn_exact_expr(query_vecs, norm_embeddings, k=5))
    b = _rows(knn_exact_partitioned(query_vecs, norm_embeddings, k=5))
    assert a == b


def test_self_is_rank1(query_vecs, norm_embeddings):
    res = knn_exact_expr(query_vecs, norm_embeddings, k=1).collect()
    for r in res:
        assert r["doc_id"] == r["query_id"]
        assert abs(r["distance"]) < 1e-6


def test_topk_subset_property(query_vecs, norm_embeddings):
    k3 = set(
        (r[0], r[1]) for r in _rows(knn_exact_expr(query_vecs, norm_embeddings, k=3))
    )
    k5 = set(
        (r[0], r[1]) for r in _rows(knn_exact_expr(query_vecs, norm_embeddings, k=5))
    )
    assert k3 <= k5


def test_threshold_gate_strict(query_vecs, norm_embeddings):
    res = knn_exact_expr(
        query_vecs, norm_embeddings, k=20, max_distance=0.4
    ).collect()
    assert all(r["distance"] < 0.4 for r in res)


def test_k_larger_than_corpus(spark, norm_embeddings):
    q = norm_embeddings.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    )
    small = norm_embeddings.filter(F.col("doc_id") < 3)
    res = knn_exact_expr(q, small, k=10)
    assert res.count() == 3


def test_index_build_and_doc_join(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    index = build_index(docs)
    assert is_fresh(index, docs)
    q = index.limit(2).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").cast("array<double>").alias("qvec"),
    )
    res = attach_documents(knn_exact_expr(q, index, k=2), docs)
    rows = res.collect()
    assert len(rows) == 4
    assert all(r["text"] is not None for r in rows)
    # score = 1 - distance (controllers/search_controller.py:37)
    assert all(abs(r["score"] - (1 - r["distance"])) < 1e-12 for r in rows)


def test_embedder_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    a = {r["doc_id"]: r["norm_embedding"] for r in build_index(docs).collect()}
    b = {r["doc_id"]: r["norm_embedding"] for r in build_index(docs).collect()}
    assert a == b


def test_embedder_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    from vector_search_question_answer_api_spark.functions import text as TXT
    from vector_search_question_answer_api_spark.operators.embed import hashing_embed_numpy

    docs = load_table(spark, sf_dir, "documents").limit(20)
    proc = [
        (r["doc_id"], r["t"])
        for r in docs.select(
            "doc_id", TXT.preprocess_text(F.col("text")).alias("t")
        ).collect()
    ]
    expected = hashing_embed_numpy([t for _, t in proc], 64)
    norms = np.linalg.norm(expected, axis=1)
    expected_norm = expected / np.where(norms == 0, 1, norms)[:, None]
    got = {r["doc_id"]: np.array(r["norm_embedding"]) for r in build_index(docs).collect()}
    for (doc_id, _), exp in zip(proc, expected_norm):
        assert np.allclose(got[doc_id], exp, atol=1e-6)


def test_partitioned_tie_contract(spark):
    """Duplicate vectors straddling the k boundary: the partition-local prune
    must keep the LOWER doc_id (the (distance ASC, doc_id ASC) contract), not
    whichever argpartition happened to emit (ADVICE r1, medium)."""
    dup = [1.0, 0.0, 0.0]
    # 6 identical corpus vectors with shuffled ids + one distant decoy; with
    # k=3 the tie set (size 6) straddles the boundary in every partition.
    corpus = spark.createDataFrame(
        [(i, dup) for i in (42, 7, 99, 3, 55, 18)] + [(1000, [0.0, 1.0, 0.0])],
        "doc_id long, norm_embedding array<double>",
    ).repartition(4)
    queries = spark.createDataFrame(
        [(0, dup)], "query_id long, qvec array<double>"
    )
    a = _rows(knn_exact_expr(queries, corpus, k=3))
    b = _rows(knn_exact_partitioned(queries, corpus, k=3))
    assert a == b
    assert [r[1] for r in b] == [3, 7, 18]


def test_filtered_knn_exact_matches_bruteforce_on_subset(spark):
    """filtered_knn('exact') == brute-force kNN over exactly the rows the
    predicate keeps; rows failing the predicate never appear."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.search import (
        filtered_knn,
        knn_exact_expr,
    )

    rng = np.random.RandomState(3)
    pts = rng.standard_normal((200, 16))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    idx = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], "en" if i % 3 else "de")
         for i in range(200)],
        "doc_id long, norm_embedding array<double>, lang string",
    )
    q = idx.filter(F.col("doc_id") < 7).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    got = filtered_knn(q, idx, F.col("lang") == "en", k=5).collect()
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
        for r in knn_exact_expr(q, idx.filter("lang = 'en'"), k=5).collect()
    }
    assert {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
        for r in got
    } == want and want
    en_ids = {r["doc_id"] for r in idx.filter("lang = 'en'").collect()}
    assert all(r["doc_id"] in en_ids for r in got)


def test_filtered_knn_ann_postfilter_recall(spark):
    """The oversampled-ANN + post-filter strategy recovers the filtered
    exact top-k on clustered geometry when oversample covers 1/s."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import train_centroids
    from vector_search_question_answer_api_spark.operators.search import (
        filtered_knn,
        knn_exact_expr,
    )

    rng = np.random.RandomState(7)
    cents = rng.standard_normal((10, 32))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    pts = cents[np.arange(400) % 10] + 0.05 * rng.standard_normal((400, 32))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    # lang alternates by REPLICA (i // 10), independent of the cluster
    # (i % 10) — every cluster holds both langs.  A predicate perfectly
    # anti-correlated with geometry (whole clusters filtered away) is the
    # documented worst case where post-filtering cannot recover recall at
    # any reasonable oversample; that regime belongs to the 'exact'
    # strategy (filter first), not to this one.
    idx = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], "en" if (i // 10) % 2 else "de")
         for i in range(400)],
        "doc_id long, norm_embedding array<double>, lang string",
    )
    q = idx.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    tc = train_centroids(idx, dim=32, n_cells=4, n_iters=3)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=tc, dim=32, n_cells=4
    ).cache()

    def tier(queries, kk):
        return ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, queries, centroids=tc, k=kk, ef=100, dim=32,
            n_cells=4, nprobe=2,
        )

    got = filtered_knn(
        q, idx, F.col("lang") == "en", k=5,
        strategy="ann_postfilter", oversample=4, ann_topk=tier,
    )
    exact = knn_exact_expr(q, idx.filter("lang = 'en'"), k=5)
    exact_sets, got_sets = {}, {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["doc_id"])
    for r in got.collect():
        assert (r["doc_id"] // 10) % 2 == 1  # 'en' rows only
        got_sets.setdefault(r["query_id"], set()).add(r["doc_id"])
    hits = sum(len(exact_sets[qq] & got_sets.get(qq, set())) for qq in exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.9, (hits, total)
