"""Product-quantization ANN gates (SURVEY.md §5.3 model): codebook shape,
encode determinism, ADC recall vs the exact oracle on both the uniform
driver corpus and the clustered (real-embedding-geometry) corpus, and the
compression accounting the tier exists for."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.pq import (
    codebook_grid,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from vector_search_question_answer_api_spark.operators.search import knn_exact_expr
from vector_search_question_answer_api_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def normed(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        V.l2_normalize(F.col("embedding")).cast("array<double>").alias("nv"),
    ).cache()


@pytest.fixture(scope="module")
def clustered(spark):
    """Same geometry as tests/test_ann.py::clustered — 500 points in 10
    tight clusters on the unit sphere."""
    rng = np.random.RandomState(7)
    cents = rng.standard_normal((10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    pts = cents[np.arange(500) % 10] + 0.05 * rng.standard_normal((500, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(500)],
        "vec_id long, nv array<double>",
    ).cache()


def _qi(df, n):
    q = df.limit(n).select(F.col("vec_id").alias("query_id"), F.col("nv").alias("qvec"))
    idx = df.select(F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding"))
    return q, idx


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


def test_codebook_shapes_and_determinism():
    a = codebook_grid(64, 8, 16)
    b = codebook_grid(64, 8, 16)
    assert a == b
    assert len(a) == 8 and len(a[0]) == 16 and len(a[0][0]) == 8
    with pytest.raises(ValueError):
        codebook_grid(60, 8)


def test_trained_codebooks_reduce_quantization_error(clustered):
    """Lloyd iterations must not increase (and on clustered data must
    clearly shrink) mean squared reconstruction error vs the grid init."""
    idx = clustered.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    rows = np.array([r["nv"] for r in clustered.orderBy("vec_id").collect()])

    def mse(cbs):
        m, dsub = len(cbs), len(cbs[0][0])
        err = 0.0
        for s in range(m):
            sub = rows[:, s * dsub : (s + 1) * dsub]
            cb = np.array(cbs[s])
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            err += d.min(1).sum()
        return err / len(rows)

    grid = codebook_grid(64, 8, 16)
    trained = train_pq_codebooks(idx, dim=64, n_iters=4)
    assert mse(trained) < mse(grid) * 0.8, (mse(trained), mse(grid))


def test_encode_matches_numpy_argmin(normed):
    cbs = codebook_grid(64, 8, 16)
    idx = normed.limit(50).select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    got = {r["doc_id"]: r["codes"] for r in pq_encode(idx, cbs).collect()}
    rows = {r["vec_id"]: np.array(r["nv"]) for r in normed.limit(50).collect()}
    for did, vec in rows.items():
        want = []
        for s in range(8):
            sub = vec[s * 8 : (s + 1) * 8]
            cb = np.array(cbs[s])
            d = ((cb - sub[None, :]) ** 2).sum(1)
            want.append(int(np.flatnonzero(d == d.min())[0]))
        assert got[did] == want


def test_adc_recall_clustered(clustered):
    """Trained PQ on the tight-cluster geometry (within-cluster distances
    BELOW the quantization noise floor at m=8 — the worst case for ADC
    ranking).  Measured across (m, n_codes) on this corpus: ADC-only
    recall@10 is 0.32-0.52, refine=4 lifts it to 0.89-0.98, refine=8 to
    1.00 at every setting — ADC is the coarse filter, the re-rank is where
    final precision comes from (exactly the FAISS IVFPQ+R contract)."""
    q, idx = _qi(clustered, 25)
    cbs = train_pq_codebooks(idx, dim=64, n_iters=4)
    codes = pq_encode(idx, cbs).cache()
    exact = _topk_sets(knn_exact_expr(q, idx, k=10))
    adc = _topk_sets(pq_topk(q, codes, cbs, k=10))
    refined = _topk_sets(pq_topk(q, codes, cbs, k=10, refine=8, index=idx))
    assert _recall(exact, adc) >= 0.25, f"ADC recall {_recall(exact, adc):.3f}"
    assert _recall(exact, refined) >= 0.95, (
        f"refined recall {_recall(exact, refined):.3f}"
    )
    # self-consistency: every query returns exactly k rows
    counts = (
        pq_topk(q, codes, cbs, k=10, refine=8, index=idx)
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert all(r["count"] == 10 for r in counts)


def test_refined_distances_are_exact(clustered):
    """With refine, every returned distance equals the exact cosine
    distance for that (query, doc) pair."""
    q, idx = _qi(clustered, 5)
    cbs = train_pq_codebooks(idx, dim=64, n_iters=2)
    codes = pq_encode(idx, cbs)
    got = pq_topk(q, codes, cbs, k=3, refine=4, index=idx).collect()
    exact = {
        (r["query_id"], r["doc_id"]): r["distance"]
        for r in knn_exact_expr(q, idx, k=500).collect()
    }
    for r in got:
        assert r["distance"] == pytest.approx(
            exact[(r["query_id"], r["doc_id"])], abs=1e-12
        )


def test_refine_requires_index(clustered):
    q, idx = _qi(clustered, 2)
    cbs = codebook_grid(64, 8, 16)
    with pytest.raises(ValueError, match="refine"):
        pq_topk(q, pq_encode(idx, cbs), cbs, k=3, refine=4)


def test_compression_accounting(normed):
    """The codes table must actually be the compact artifact: m ints vs
    dim doubles per row — the plan reads no vector column."""
    cbs = codebook_grid(64, 8, 16)
    idx = normed.select(
        F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
    )
    codes = pq_encode(idx, cbs)
    assert [f.name for f in codes.schema.fields] == ["doc_id", "codes"]
    assert codes.schema["codes"].dataType.simpleString() == "array<int>"
    row = codes.first()
    assert len(row["codes"]) == 8 and all(0 <= c < 16 for c in row["codes"])


def test_ivfpq_recall_clustered(clustered):
    """IVF x PQ composition: coarse pruning + code compression + exact
    re-rank still reaches high recall on the clustered corpus (trained
    centroids and codebooks; nprobe=4/16, refine=8)."""
    from vector_search_question_answer_api_spark.operators.ivf import train_centroids
    from vector_search_question_answer_api_spark.operators.pq import ivfpq_topk

    q, idx = _qi(clustered, 25)
    cents = train_centroids(idx, dim=64, n_cells=16, n_iters=4)
    cbs = train_pq_codebooks(idx, dim=64, n_iters=4)
    exact = _topk_sets(knn_exact_expr(q, idx, k=10))
    got = _topk_sets(
        ivfpq_topk(q, idx, cbs, centroids=cents, k=10, nprobe=4, refine=8)
    )
    assert _recall(exact, got) >= 0.9, f"ivfpq recall {_recall(exact, got):.3f}"


def test_recall_monitor_matches_python_reference(clustered):
    """recall_per_query / recall_summary agree with the local-python
    reference on a real exact-vs-approx pair, and report 1.0 for
    self-comparison."""
    from vector_search_question_answer_api_spark.operators.quality import (
        recall_per_query,
        recall_summary,
    )

    q, idx = _qi(clustered, 10)
    cbs = train_pq_codebooks(idx, dim=64, n_iters=2)
    codes = pq_encode(idx, cbs).cache()
    exact_df = knn_exact_expr(q, idx, k=10)
    approx_df = pq_topk(q, codes, cbs, k=10)

    exact, approx = _topk_sets(exact_df), _topk_sets(approx_df)
    want_per_q = {
        qid: len(want & approx.get(qid, set())) / len(want)
        for qid, want in exact.items()
    }
    got = {
        r["query_id"]: r["recall"]
        for r in recall_per_query(exact_df, approx_df).collect()
    }
    assert got == pytest.approx(want_per_q)

    s = recall_summary(exact_df, approx_df)
    assert s["n_queries"] == 10
    assert s["micro_recall"] == pytest.approx(_recall(exact, approx))
    assert s["worst_query_recall"] == pytest.approx(min(want_per_q.values()))

    perfect = recall_summary(exact_df, exact_df)
    assert perfect["micro_recall"] == 1.0 and perfect["worst_query_recall"] == 1.0


def test_recall_monitor_counts_missing_queries_as_zero(spark):
    from vector_search_question_answer_api_spark.operators.quality import (
        recall_per_query,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "query_id long, doc_id long"
    )
    approx = spark.createDataFrame([(1, 10)], "query_id long, doc_id long")
    got = {r["query_id"]: (r["hits"], r["want"], r["recall"])
           for r in recall_per_query(exact, approx).collect()}
    assert got == {1: (1, 2, 0.5), 2: (0, 1, 0.0)}


def test_ivfpq_ondisk_matches_inmemory_and_defers_vectors(
    spark, clustered, tmp_path
):
    """The on-disk composition (codes-table scan + deferred vector fetch)
    emits exactly what the in-memory ``ivfpq_topk`` emits, its codes scan
    physically cannot read vector bytes (the artifact has no vector
    column), the probed-cell filter reaches the scan as a partition
    filter, and the codes artifact is materially smaller than the
    full-vector inverted file."""
    from vector_search_question_answer_api_spark.operators.ivf import (
        assign_cell,
        train_centroids,
    )
    from vector_search_question_answer_api_spark.operators.pq import (
        ivfpq_topk,
        ivfpq_topk_ondisk,
        write_ivfpq_index,
    )
    from vector_search_question_answer_api_spark.sources.compaction import (
        layout_stats,
    )

    q, idx = _qi(clustered, 10)
    cbs = train_pq_codebooks(idx, dim=64, m=8, n_codes=16, n_iters=3)
    cents = train_centroids(
        clustered.select(
            F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
        ),
        dim=64,
        n_cells=8,
        n_iters=3,
    )
    path = str(tmp_path / "ivfpq_codes")
    write_ivfpq_index(idx, path, cbs, centroids=cents, dim=64, n_cells=8)

    # the artifact has NO vector column — deferred fetch is physical
    artifact = spark.read.parquet(path)
    assert set(artifact.columns) == {"doc_id", "codes", "cell"}

    got = ivfpq_topk_ondisk(
        spark, q, path, idx, cbs, centroids=cents,
        k=5, dim=64, n_cells=8, nprobe=2, refine=8,
    )
    want = ivfpq_topk(
        q, idx, cbs, centroids=cents,
        k=5, dim=64, n_cells=8, nprobe=2, refine=8,
    )
    grows = {
        (r["query_id"], r["doc_id"], r["rank"], round(r["distance"], 9))
        for r in got.collect()
    }
    wrows = {
        (r["query_id"], r["doc_id"], r["rank"], round(r["distance"], 9))
        for r in want.collect()
    }
    assert grows == wrows and grows

    # recall vs exact unchanged by the on-disk path
    exact = _topk_sets(knn_exact_expr(q, idx, k=5))
    assert _recall(exact, _topk_sets(got)) >= 0.9

    # plan pins: partition filter on cell at the codes scan, and the codes
    # scan's read schema carries codes+doc_id only (no vector column to
    # read even by name)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    # the ONLY file scan in this plan is the codes table (queries/index are
    # in-memory relations)
    assert scans, plan
    pf = [ln for ln in scans if "PartitionFilters: [cell" in ln]
    assert pf, f"probed-cell set not in PartitionFilters: {scans}"
    assert all("ReadSchema" not in ln or "codes" in ln for ln in scans), scans
    assert not any("nv" in ln or "norm_embedding" in ln for ln in scans), scans

    # bytes accounting: codes artifact ≪ the full-vector inverted file
    # (the same rows with their vectors, partitioned by the same cells)
    vec_path = str(tmp_path / "ivf_vectors")
    idx.select(
        "doc_id",
        F.col("norm_embedding").alias("cvec"),
        assign_cell(F.col("norm_embedding"), cents).alias("cell"),
    ).write.partitionBy("cell").parquet(vec_path)
    codes_bytes = layout_stats(path)["bytes_total"]
    vec_bytes = layout_stats(vec_path)["bytes_total"]
    assert codes_bytes * 3 < vec_bytes, (codes_bytes, vec_bytes)


def test_ivfpq_ondisk_probe_collect_bounded_by_n_cells(
    spark, clustered, tmp_path, monkeypatch
):
    """VERDICT r5 What's-wrong #1: the probed-cell partition filter must
    be computed from a DISTINCT cell relation, so the driver-side collect
    is <= n_cells rows regardless of query-batch size.  Counting shim on
    DataFrame.collect; a 10k-row query batch (each query explodes to
    nprobe cells) must still collect at most n_cells rows."""
    from vector_search_question_answer_api_spark.operators.ivf import (
        train_centroids,
    )
    from vector_search_question_answer_api_spark.operators.pq import (
        ivfpq_topk_ondisk,
        write_ivfpq_index,
    )

    _, idx = _qi(clustered, 10)
    cbs = train_pq_codebooks(idx, dim=64, m=8, n_codes=16, n_iters=3)
    cents = train_centroids(
        clustered.select(
            F.col("vec_id").alias("doc_id"), F.col("nv").alias("norm_embedding")
        ),
        dim=64,
        n_cells=8,
        n_iters=3,
    )
    path = str(tmp_path / "ivfpq_codes_big")
    write_ivfpq_index(idx, path, cbs, centroids=cents, dim=64, n_cells=8)

    # 10k queries: 20 replicas of the 500 corpus points, fresh ids
    big_q = (
        clustered.crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") + F.col("rep") * 500).alias("query_id"),
            F.col("nv").alias("qvec"),
        )
    )
    assert big_q.count() == 10_000

    collect_sizes = []
    # patch the CONCRETE DataFrame class (pyspark 4 subclasses the public
    # pyspark.sql.DataFrame, overriding collect)
    df_cls = type(big_q)
    real_collect = df_cls.collect

    def counting_collect(self):
        rows = real_collect(self)
        collect_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", counting_collect)
    # building the plan runs the ONE driver collect (probed cells);
    # we never execute the result, so this stays cheap at 10k queries
    ivfpq_topk_ondisk(
        spark, big_q, path, idx, cbs, centroids=cents,
        k=5, dim=64, n_cells=8, nprobe=4, refine=8,
    )
    monkeypatch.undo()
    assert collect_sizes, "expected the probed-cell collect to run"
    assert max(collect_sizes) <= 8, collect_sizes


def test_dim_inferred_from_codebooks_and_mismatch_raises(spark):
    """Serving/encode APIs take their slicing width from the codebooks
    artifact (regression for a measured failure: ``dim`` once defaulted
    to 64, so a 384-dim corpus passed without ``dim`` was sliced to its
    first 64 components against full-width codebook entries — every row
    encoded to code 0 and ADC degenerated to a doc_id-ordered shortlist).
    An explicit ``dim`` that disagrees with the artifact must raise, not
    silently mis-slice."""
    rng = np.random.RandomState(11)
    pts = rng.standard_normal((200, 32))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(200)],
        "vec_id long, nv array<double>",
    ).cache()
    q, idx = _qi(df, 5)
    # no dim anywhere: train infers 32 from the data, encode/query from cbs
    cbs = train_pq_codebooks(idx, m=4, n_codes=8, n_iters=3)
    assert len(cbs) == 4 and len(cbs[0][0]) == 8  # dsub = 32/4
    codes = pq_encode(idx, cbs)
    n_distinct = codes.select(F.col("codes")[0].alias("c")).distinct().count()
    assert n_distinct > 1, "degenerate encoding: every row got one code"
    # inferred serving == explicit-correct-dim serving
    got = _topk_sets(pq_topk(q, codes, cbs, k=3, refine=4, index=idx))
    want = _topk_sets(pq_topk(q, codes, cbs, k=3, dim=32, refine=4, index=idx))
    assert got == want
    with pytest.raises(ValueError, match="inconsistent"):
        pq_encode(idx, cbs, dim=64)
    with pytest.raises(ValueError, match="inconsistent"):
        pq_topk(q, codes, cbs, k=3, dim=64)


def test_ivf_and_celled_dim_mismatch_raises(spark):
    """The same contract for coarse-quantizer consumers: centroid-carrying
    calls cross-check any explicit ``dim`` against the artifact."""
    from vector_search_question_answer_api_spark.operators.ann_hnsw import (
        build_celled_hnsw,
    )
    from vector_search_question_answer_api_spark.operators.ivf import (
        ivf_topk,
        train_centroids,
    )

    rng = np.random.RandomState(12)
    pts = rng.standard_normal((100, 16))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(100)],
        "vec_id long, nv array<double>",
    ).cache()
    q, idx = _qi(df, 3)
    cents = train_centroids(idx, n_cells=4, n_iters=2)  # dim inferred = 16
    assert len(cents[0]) == 16
    # inferred == explicit
    got = _topk_sets(ivf_topk(q, idx, centroids=cents, k=3, nprobe=4))
    want = _topk_sets(ivf_topk(q, idx, centroids=cents, k=3, dim=16, nprobe=4))
    assert got == want
    with pytest.raises(ValueError, match="inconsistent"):
        ivf_topk(q, idx, centroids=cents, k=3, dim=64)
    with pytest.raises(ValueError, match="inconsistent"):
        build_celled_hnsw(idx, centroids=cents, dim=64, n_cells=4)


def test_recommended_pq_m_codifies_bits_per_dim_rule():
    """The SCALE.md r9 sizing rule as code: >= 0.5 bits/dim of code
    budget, smallest m that divides dim."""
    from vector_search_question_answer_api_spark.operators.pq import (
        recommended_pq_m,
    )

    assert recommended_pq_m(64) == 8     # the engine's default shape
    assert recommended_pq_m(384) == 48   # the fixture's measured budget
    assert recommended_pq_m(768) == 96
    # non-power-of-two dim: m_min=13 -> next divisor of 100 is 20
    assert recommended_pq_m(100) == 20
    # larger codebooks carry more bits per code -> smaller m suffices
    assert recommended_pq_m(32, n_codes=256) == 2
    # returned m always satisfies the budget and divides dim
    import math
    for dim in (64, 100, 384, 768):
        m = recommended_pq_m(dim)
        assert dim % m == 0
        assert m * math.log2(16) >= 0.5 * dim


def test_codebook_default_m_follows_bits_per_dim_rule():
    """m defaults to recommended_pq_m (VERDICT r9 missing #3): dim=64
    keeps the long-standing m=8 grid BIT-IDENTICAL (every existing
    artifact and gate unchanged); dim=384 defaults to the 0.5-bits/dim
    budget instead of the silently under-coded m=8."""
    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
        recommended_pq_m,
    )

    assert codebook_grid(64) == codebook_grid(64, 8, 16)
    assert len(codebook_grid(64)) == 8
    assert recommended_pq_m(384) == 48
    assert len(codebook_grid(384)) == 48


def test_default_args_recall_realistic_384(spark):
    """A 384-dim user taking DEFAULTS (train_pq_codebooks with no m) must
    land in the measured >=0.9 recall regime at the sizing rule's refine
    depth — the r9 fixture study showed the flat m=8 default plateaued at
    0.84 no matter the refine (SCALE.md r9).  Protocol mirrors the r9
    refine-curve fixture study (k=5, production monitor)."""
    import os

    from vector_search_question_answer_api_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from vector_search_question_answer_api_spark.operators.quality import (
        recall_summary,
    )
    from vector_search_question_answer_api_spark.operators.search import (
        knn_exact_expr,
    )

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "realistic_embeddings_384.parquet"
    )
    normed = (
        spark.read.parquet(path)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("norm_embedding"),
        )
        .persist()
    )
    normed.count()
    q = normed.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    exact = knn_exact_expr(q, normed, k=5)
    cbs = train_pq_codebooks(normed, n_iters=4)  # no dim, no m: all inferred
    assert len(cbs) == 48  # the rule's budget, not the flat 8
    codes = pq_encode(normed, cbs).persist()
    codes.count()
    approx = pq_topk(q, codes, cbs, k=5, refine=32, index=normed)
    rec = recall_summary(exact, approx)["micro_recall"]
    normed.unpersist()
    codes.unpersist()
    assert rec >= 0.9, rec
