#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the no-op sink (full execution, no driver
collect/serialization overhead) after a short JVM/codegen warmup.

``python bench.py --probe [--runs N] ENTRY...`` measures only the named
entries in a fresh process, one JSON record per entry; the suite launches
it for the entries it records cross-process (``_fresh``).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_search_question_answer_api_spark import caching, inventory
from vector_search_question_answer_api_spark.session import get_spark

# The headline set: relational core, vector search, dedup, text analytics —
# one per operator family from SURVEY.md §2 (rest of the inventory is
# covered by the driver's correctness harness, not timed here).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "top2_parts_per_brand",
    "events_sessionization",
    "events_hourly_rollup",
    "knn_topk",
    "search_pipeline_e2e",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_embedding",
    "text_metrics",
    "events_asof_join",
    "stratified_sample",
    "filter_funnel",
    "mixture_sample",
    "mmr_topk",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark, sf_dir) -> None:
    """JVM JIT + codegen + parquet footer caches on a tiny query, plus one
    Arrow-UDF pass across all cores so the Python worker pool spawns
    before any measured query (one-time process startup, not query
    cost)."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.embed import HashingEmbedder

    _force(inventory.queries()["q1_pricing_summary"](spark, sf_dir).limit(1))
    warm = spark.range(256).repartition(spark.sparkContext.defaultParallelism)
    _force(warm.select(HashingEmbedder()(F.col("id").cast("string"))))


def _summary(runs: "list[float]") -> dict:
    lo, lo2 = sorted(runs)[:2] if len(runs) >= 2 else (runs[0], runs[0])
    return {
        "min": lo,
        "best2": [lo, lo2],
        "certified": bool(lo2 <= lo * 1.15),
        "runs": runs,
    }


def _measure(fn, pre=None, runs: "int | None" = None) -> dict:
    """Time ``_force(fn())`` and return {min, best2, certified, runs}
    (seconds, rounded to the ms).

    ``runs=N`` makes exactly N runs.  ``runs=None`` is adaptive best-of-5
    (r5, VERDICT r4 #2): single-shot timings on this box swing +-40% with
    scheduler noise, and best-of-2 was not enough — BENCH_r04 recorded
    dedup_exact +74% / minhash +53% "regressions" that a same-code re-run
    placed back at the r3 values while OTHER queries swung +150%.  The
    work per run is fixed, so noise only ever INFLATES a timing; the min
    is the true cost, but it is only trustworthy once reproduced.  Keep
    re-running (max 5) until the two fastest runs agree within 15%
    (``certified``), then report the min — a certified-reproducible cost,
    not a lucky or unlucky draw.

    ``pre`` runs untimed before every run (state restore).  Caches are
    released between attempts so every run does the full work:
    cache_scope releases only the caches THIS attempt creates —
    unpersist_all() would drain the process-global registry and could
    yank caches out from under other live plans if bench ever runs
    embedded (ADVICE r3).  The serving snapshots (``caching.epoch_cached``)
    are released before every attempt, untimed, so a stored-serving
    entry times its cold request — the snapshot build included — on
    every run, comparable with ledgers from before the snapshots."""
    times: list[float] = []
    for _ in range(runs or 5):
        caching.release_snapshots()
        if pre is not None:
            pre()
        with caching.cache_scope():
            t0 = time.perf_counter()
            _force(fn())
            times.append(round(time.perf_counter() - t0, 3))
        if runs is None and len(times) >= 2 and _summary(times)["certified"]:
            break
    return _summary(times)


def _normed(spark, sf_dir):
    """The sf embeddings table as an L2-normalized (doc_id, norm_embedding)
    index — the corpus side of the vector-tier entries."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.functions import vector as V
    from vector_search_question_answer_api_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        V.l2_normalize(F.col("embedding"))
        .cast("array<double>")
        .alias("norm_embedding"),
    )


def _zipf_topk_fns(spark, sf_dir):
    """Two extra bench entries (r3 verdict #6): exact top-k per key over a
    Zipfian key (90% of lineitem x4 on ONE key) — the direct window vs the
    two-phase salted form (operators/skew.py), equality-asserted once per
    bench run.  MEASURED finding (r4, recorded in SCALE.md): at bench scale
    the hot key's single-task sort costs ~1 s, and Spark 3.5's
    WindowGroupLimit already prunes each input partition to its local
    top-k, so the salted form shows NO win here — its domain is keys whose
    per-task sort/merge exceeds the task budget (>=10^8 rows/key), where
    the direct window's single hot-key task is the straggler.  The bench
    keeps both honest: same relation, real timings, no guessing."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.skew import (
        salted_topk_per_key,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table

    K = 100

    def _input(spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        base = li.select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit("hot"))
            .otherwise(
                F.concat(F.lit("c"), (F.col("l_orderkey") % 1000).cast("string"))
            )
            .alias("k"),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        )
        return base.withColumn(
            "rep", F.explode(F.array(*[F.lit(i) for i in range(4)]))
        )

    def _order():
        from pyspark.sql import functions as F

        return [
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
            F.col("rep").asc(),
        ]

    def direct(spark, sf_dir):
        df = _input(spark, sf_dir)
        w = Window.partitionBy("k").orderBy(*_order())
        return (
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K)
        )

    def salted(spark, sf_dir):
        return salted_topk_per_key(
            _input(spark, sf_dir), ["k"], _order(), k=K, n_salts=32
        )

    return {"topk_zipf_direct": direct, "topk_zipf_salted": salted}, {}, [], []


def _r4_tier_fns(spark, sf_dir):
    """Two r4 bench entries: PQ ANN (ADC over compact codes + exact
    re-rank) and the SemDeDup cell-scoped embedding dedup — both timed on
    the sf embeddings table; the dedup tier is subset-pinned against the
    exact broadcast relation once per bench run (same contract as the
    zipf equality pin)."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
        pq_encode,
        pq_topk,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table

    def ann_pq(spark, sf_dir):
        idx = _normed(spark, sf_dir)
        cbs = codebook_grid(64, 8, 16)
        codes = pq_encode(idx, cbs)
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return pq_topk(q, codes, cbs, k=5, refine=4, index=idx)

    def semdedup(spark, sf_dir):
        from vector_search_question_answer_api_spark.operators.dedup import (
            embedding_near_dup_pairs_clustered,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        return embedding_near_dup_pairs_clustered(
            emb, min_sim=0.45, n_cells=16, multi_probe=2
        )

    return (
        {"ann_pq_topk": ann_pq, "dedup_embedding_semdedup": semdedup},
        {}, [], [],
    )


def _hnsw_fn(spark, sf_dir):
    """r5 bench entry: top-k against partitioned HNSW graphs
    (``NumpyHNSW``).  Graphs are built and cached once outside the timed
    loop (index-build work, amortized in production exactly like the
    ivfpq codes table); the timed number is the broadcast-queries graph
    walk + global candidate merge."""
    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.functions import vector as V
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = emb.select(
        F.col("vec_id").alias("doc_id"),
        V.l2_normalize(F.col("embedding")).cast("array<float>").alias(
            "norm_embedding"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)
    graphs = ann_hnsw.build_partitioned_hnsw(idx, dim=64).persist()
    graphs.count()
    q = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("qvec"),
        )
    )

    def ann_hnsw_topk(spark, sf_dir):
        return ann_hnsw.hnsw_topk(spark, graphs, q, k=5)

    # r6: the cell-routed composition through the COGROUPED serving path
    # (query relation never collected to the driver) at the reference's
    # working ef=50 — the offline-batch serving shape for 100 TB
    from vector_search_question_answer_api_spark.operators.ivf import centroid_grid

    cents = centroid_grid(64, 16)
    celled = ann_hnsw.build_celled_hnsw(
        idx.select("doc_id", F.col("norm_embedding").alias("nv")),
        centroids=cents, dim=64, n_cells=16, vec_col="nv",
    ).persist()
    celled.count()

    def ann_hnsw_celled(spark, sf_dir):
        return ann_hnsw.celled_hnsw_topk_cogrouped(
            celled, q, centroids=cents, k=5, ef=50, dim=64,
            n_cells=16, nprobe=4,
        )

    # r6: the whole-corpus k-NN graph (n x k neighbors via cogrouped
    # self-query) — the SemDeDup/cluster-prep primitive, timed over the
    # FULL corpus as the query relation, not a 10-row sample
    def knn_graph_full(spark, sf_dir):
        return ann_hnsw.knn_graph(
            idx.select("doc_id", F.col("norm_embedding").alias("nv")),
            centroids=cents, k=5, ef=50, dim=64, n_cells=16, nprobe=4,
            vec_col="nv", graphs=celled,
        )

    # r7 (VERDICT r6 #5): filtered vector search, both strategies over
    # the same id-hash predicate (selectivity ~1/3, geometry-independent)
    from vector_search_question_answer_api_spark.operators.search import (
        filtered_knn,
    )

    fidx = idx.select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
        (F.pmod(F.xxhash64(F.col("doc_id")), F.lit(3)) == 0).alias("keep"),
    )
    fpred = F.col("keep")

    def filtered_knn_exact(spark, sf_dir):
        return filtered_knn(q, fidx, fpred, k=5, strategy="exact")

    def filtered_knn_postfilter(spark, sf_dir):
        def tier(queries, kk):
            return ann_hnsw.celled_hnsw_topk_cogrouped(
                celled, queries, centroids=cents, k=kk, ef=50, dim=64,
                n_cells=16, nprobe=4,
            )

        return filtered_knn(
            q, fidx, fpred, k=5, strategy="ann_postfilter",
            oversample=4, ann_topk=tier,
        )

    return (
        {
            "ann_hnsw_topk": ann_hnsw_topk,
            "ann_hnsw_celled": ann_hnsw_celled,
            "knn_graph_full": knn_graph_full,
            "filtered_knn_exact": filtered_knn_exact,
            "filtered_knn_postfilter": filtered_knn_postfilter,
        },
        {}, [], [graphs, celled],
    )


def _ivfpq_ondisk_fn(spark, sf_dir):
    """r5 bench entry: queries against the MATERIALIZED IVFPQ codes table
    (cell-partitioned, no vector column, deferred vector fetch — see
    operators/pq.write_ivfpq_index).  The artifact is built ONCE here,
    outside the timed loop: in production the codes table is ingest-time
    work amortized over every query batch, so the per-query number is the
    scan+ADC+refine cost — the number that matters."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
        ivfpq_topk_ondisk,
        write_ivfpq_index,
    )

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_ivfpq_")
    path = root + "/codes"
    cbs = codebook_grid(64, 8, 16)

    write_ivfpq_index(_normed(spark, sf_dir), path, cbs, dim=64, n_cells=16)

    def ann_ivfpq_ondisk(spark, sf_dir):
        idx = _normed(spark, sf_dir)
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return ivfpq_topk_ondisk(
            spark, q, path, idx, cbs, k=5, dim=64, n_cells=16,
            nprobe=4, refine=8,
        )

    return {"ann_ivfpq_ondisk": ann_ivfpq_ondisk}, {}, [root], []


def _lsh_ondisk_fns(spark, sf_dir):
    """r11 bench entries (VERDICT r10 #4): the persisted LSH signature
    index vs the in-memory tier, SAME manifest knobs (8x8, centered, 10
    queries over the sf embeddings table — the r10 SCALE.md fixture, now
    ledger-tracked so the ingest-time-vs-query-time amortization claim
    gets cross-round numbers like ``ann_ivfpq_ondisk``).  The index build
    (signature table + manifest) is ingest-time work outside the timed
    loop; ``ann_lsh_ondisk``'s corpus side is a 2-column parquet scan,
    ``ann_lsh_mem`` re-runs the corpus-wide Arrow signature kernel every
    call — the structural O(corpus)-per-batch difference.  One-time pin:
    both tiers emit the identical relation."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_lsh_")
    path = root + "/lsh"
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _normed(spark, sf_dir).persist()
    idx.count()
    center = ann.corpus_center(idx)
    ann.write_lsh_index(idx, path, n_planes=8, n_tables=8, center=center)
    art = ann.read_lsh_artifact(path)
    q = idx.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def ann_lsh_mem(spark, sf_dir):
        return ann.ann_lsh_topk(q, idx, k=5, artifact=art)

    def ann_lsh_ondisk(spark, sf_dir):
        return ann.ann_lsh_topk_ondisk(spark, q, path, idx, k=5)

    # r12 (VERDICT r11 #3): the SAME store served AS MAINTAINED — base
    # plus a 4-deep maintenance log (two ~2%-of-corpus re-upsert batches
    # and a delete/revive pair), so the timed read pays the full
    # log-bearing resolution (log window + broadcast anti-join on the
    # base) that the compacted entries never see.  LOG DEPTH: 4 batches,
    # ~4% of corpus rows + 2 marker rows.  The batches are built to be
    # net-IDENTITY (same vectors re-upserted; the deleted doc revived
    # with its original vector), so the tier must emit exactly the
    # compacted store's relation — the timing difference IS the
    # between-compactions resolution cost, isolated.
    m_path = root + "/lsh_maintained"
    ann.write_lsh_index(idx, m_path, n_planes=8, n_tables=8, center=center)
    n_docs = idx.count()
    B = max(1, n_docs // 50)
    ts = F.timestamp_millis(F.lit(1_000_000))
    tomb = idx.filter(F.col("doc_id") == 0).select(
        "doc_id",
        F.lit(None).cast("array<double>").alias("norm_embedding"),
        ts.alias("ts"),
    )
    revive = idx.filter(F.col("doc_id") == 0).withColumn("ts", ts)
    up1 = idx.filter(F.col("doc_id") < B).withColumn("ts", ts)
    up2 = idx.filter(
        (F.col("doc_id") >= B) & (F.col("doc_id") < 2 * B)
    ).withColumn("ts", ts)
    for i, b in enumerate((tomb, revive, up1, up2)):
        ann.append_lsh_signatures_batch(b, m_path, i, art)

    def ann_lsh_maintained(spark, sf_dir):
        return ann.ann_lsh_topk_ondisk(spark, q, m_path, idx, k=5)

    def rel(df):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in df.collect()
        }

    a, b = rel(ann_lsh_mem(spark, sf_dir)), rel(ann_lsh_ondisk(spark, sf_dir))
    assert a and a == b, f"lsh tiers disagree ({len(a)} vs {len(b)})"
    m = rel(ann_lsh_maintained(spark, sf_dir))
    assert m == a, f"maintained lsh tier disagrees ({len(m)} vs {len(a)})"
    return (
        {
            "ann_lsh_mem": ann_lsh_mem,
            "ann_lsh_ondisk": ann_lsh_ondisk,
            "ann_lsh_maintained": ann_lsh_maintained,
        },
        {}, [root], [idx],
    )


def _bm25_stored_fns(spark, sf_dir):
    """r12 bench entries: the maintained lexical (BM25) postings store
    (operators/lexical_store.py) vs the one-shot ``bm25_topk`` gate —
    the last serving artifact that was still rebuilt per query.  Three
    regimes on the SAME gate fixture (every 100th doc's text as the
    query side):

    - ``bm25_oneshot``: ``bm25_topk`` as-is — re-tokenizes the corpus
      per call, the one-shot batch shape (the correctness gate's exact
      code path, here so the amortization delta lives in the ledger);
    - ``bm25_stored``: serves from a compacted store (build outside the
      timed loop) — a pruned parquet slice + the scoring joins, zero
      corpus tokenization;
    - ``bm25_stored_maintained``: the same store with a 4-deep
      NET-IDENTITY maintenance log (two ~2%-of-corpus re-upserts of the
      same text, one delete/revive pair) — the timed read pays the full
      log-bearing resolution (log window + broadcast anti-join), so the
      delta vs ``bm25_stored`` is the between-compactions premium,
      isolated (the ``ann_lsh_maintained`` protocol).

    One-time pins outside the loop: all three emit the identical
    relation.  LOG DEPTH stated: 4 batches."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.inventory import (
        _bm25_gate_inputs,
    )
    from vector_search_question_answer_api_spark.operators import (
        lexical_store as LXS,
    )
    from vector_search_question_answer_api_spark.operators.keyword_search import (
        bm25_topk,
    )

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_bm25_")
    docs, q = _bm25_gate_inputs(spark, sf_dir)
    docs = docs.persist()
    n_docs = docs.count()
    path = root + "/postings"
    LXS.write_postings_index(docs, path, n_buckets=32)

    # maintained twin: same base + a 4-deep net-identity log
    m_path = root + "/postings_maintained"
    LXS.write_postings_index(docs, m_path, n_buckets=32)
    B = max(1, n_docs // 50)
    ts = F.timestamp_millis(F.col("doc_id") + F.lit(1_000_000))

    def _b(df, tomb=False):
        if tomb:
            return df.select(
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                ts.alias("ts"),
                F.lit(True).alias("_tomb"),
            )
        return df.select(
            "doc_id", "text", ts.alias("ts"), F.lit(False).alias("_tomb")
        )

    batches = (
        _b(docs.filter(F.col("doc_id") == 0), tomb=True),
        _b(docs.filter(F.col("doc_id") == 0)),
        _b(docs.filter((F.col("doc_id") > 0) & (F.col("doc_id") % 50 == 1))),
        _b(docs.filter((F.col("doc_id") > 0) & (F.col("doc_id") % 50 == 2))),
    )
    for i, b in enumerate(batches):
        LXS.append_postings_batch(
            b, m_path, i, n_buckets=32, tomb_col="_tomb"
        )

    def bm25_oneshot(spark, sf_dir):
        return bm25_topk(docs, q, k=5)

    def bm25_stored(spark, sf_dir):
        return LXS.bm25_topk_stored(spark, path, q, k=5)

    def bm25_stored_maintained(spark, sf_dir):
        return LXS.bm25_topk_stored(spark, m_path, q, k=5)

    def rel(df):
        return {
            (
                int(r["query_id"]),
                int(r["doc_id"]),
                round(r["score"], 9),
                int(r["rank"]),
            )
            for r in df.collect()
        }

    ref = rel(bm25_oneshot(spark, sf_dir))
    s = rel(bm25_stored(spark, sf_dir))
    assert s and s == ref, f"stored bm25 disagrees ({len(s)} vs {len(ref)})"
    m = rel(bm25_stored_maintained(spark, sf_dir))
    assert m == ref, f"maintained bm25 disagrees ({len(m)} vs {len(ref)})"
    return (
        {
            "bm25_oneshot": bm25_oneshot,
            "bm25_stored": bm25_stored,
            "bm25_stored_maintained": bm25_stored_maintained,
        },
        {}, [root], [docs],
    )


def _hybrid_stored_fns(spark, sf_dir):
    """r12 bench entries: hybrid (BM25 + dense LSH) retrieval, both tiers
    served from the stores the composed ingest maintains, at the corpus
    COMMITTED EPOCH (snapshot-consistent across stores) — vs the one-shot
    that recomputes both tiers per call:

    - ``hybrid_oneshot``: re-tokenizes the corpus for BM25 AND re-embeds
      + re-hashes it for the LSH tier, every call — the
      rebuild-everything shape;
    - ``hybrid_stored``: ``hybrid_store.hybrid_search_stored`` — pruned
      postings slice + stored signature table + epoch-bounded index
      resolution + the same ``rrf_fuse``.

    The fixture is a REAL ``maintain_corpus`` run (3 micro-batches:
    inserts, inserts + ~1% updates, updates + deletions) with docs +
    postings + lsh stores, so the timed stored path pays the true
    resolution (log windows, broadcast anti-joins, marker listing).
    One-time pin outside the loop: both entries emit the identical
    relation."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators import (
        ann,
        hybrid_store as HS,
    )
    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )
    from vector_search_question_answer_api_spark.operators.keyword_search import (
        bm25_topk,
        rrf_fuse,
    )
    from vector_search_question_answer_api_spark.sources.tables import (
        load_table,
    )
    from vector_search_question_answer_api_spark.streaming import (
        ingest_stream as IG,
    )

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_hybrid_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    n = docs.count()
    cut = max(1, int(n * 0.6))
    b0 = docs.filter(F.col("doc_id") < cut)
    upd1 = (
        docs.filter(F.col("doc_id") % 97 == 3)
        .withColumn("text", F.concat(F.lit("updated "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    b1 = docs.filter(F.col("doc_id") >= cut).unionByName(upd1)
    upd2 = (
        docs.filter(F.col("doc_id") % 97 == 7)
        .withColumn("text", F.concat(F.lit("updated twice "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
    )
    dels = docs.filter(F.col("doc_id") % 211 == 5).select(
        "doc_id",
        F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    b2 = upd2.unionByName(dels)
    for i, b in enumerate((b0, b1, b2)):
        # one file per source batch: maxFilesPerTrigger=1 makes each a
        # micro-batch, so the committed epoch is deterministic (= 2)
        b.coalesce(1).write.parquet(f"{root}/src/b{i}")
    art = {
        "family": ann.LSH_FAMILY,
        "dim": 64,
        "n_planes": ann.recommended_n_planes(n),
        "n_tables": ann.DEFAULT_N_TABLES,
        "center": ann.corpus_center(build_index(b0.drop("_delete"))),
    }
    corpus = f"{root}/corpus"
    q = IG.maintain_corpus(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src/*"),
        corpus,
        checkpoint=f"{root}/ckpt",
        dim=64,
        trigger_once=True,
        lsh_artifact=art,
        docs_store=True,
        postings_store=True,
        postings_buckets=32,
        ann_graphs=True,
    )
    assert q.awaitTermination(600), "hybrid fixture ingest did not finish"
    assert IG.corpus_committed_epoch(corpus) == 2

    # the one-shot side reads a PLAIN parquet corpus (same rows the
    # stores resolve to) — it must not pay the stores' resolution
    IG.read_corpus_docs(spark, corpus).write.parquet(f"{root}/final_docs")
    # r15 measurement fix (guide §1, stated per the bench contract): the
    # freshly-written corpus parquet packs into ONE scan split at bench
    # scale, so the one-shot tier's whole re-embed + re-tokenize ran on a
    # single core — misrepresenting the tier it exists to contrast (at
    # production scale this scan auto-splits).  Deterministic hash
    # repartition on doc_id restores normal scan parallelism, exactly like
    # load_table's ensure_parallelism does for the gate tables.  Old
    # (single-task) numbers for reference, this box: hybrid_oneshot 6.15 s
    # baseline, of which build_index(fdocs) alone measured 2.71 s
    # single-task.
    fdocs = spark.read.parquet(f"{root}/final_docs").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    queries = (
        fdocs.filter(F.col("doc_id") % 500 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
        )
        .join(
            IG.read_corpus_index(spark, corpus).select(
                F.col("doc_id").alias("query_id"),
                F.col("norm_embedding").alias("qvec"),
            ),
            "query_id",
        )
        .persist()
    )
    assert queries.count() > 0

    def hybrid_oneshot(spark, sf_dir):
        idx = build_index(fdocs)
        return rrf_fuse(
            [
                bm25_topk(
                    fdocs, queries.select("query_id", "query_text"), k=20
                ).select("query_id", "doc_id", "rank"),
                ann.ann_lsh_topk(
                    queries.select("query_id", "qvec"), idx, k=20,
                    artifact=art,
                ).select("query_id", "doc_id", "rank"),
            ],
            k=10,
        )

    def hybrid_stored(spark, sf_dir):
        return HS.hybrid_search_stored(
            spark, corpus, queries, k=10, pool=20, dense="lsh"
        )

    def hybrid_stored_graph(spark, sf_dir):
        # r13: the managed celled-HNSW store INSIDE the committed-epoch
        # composition — dense candidates from the maintained graph blobs
        # at serving knobs (recall governed by nprobe/ef exactly like the
        # ann graph tiers; exhaustive-ef equality vs rebuild is pinned in
        # tests/test_consistent_reads.py, not re-proven per bench run)
        return HS.hybrid_search_stored(
            spark, corpus, queries, k=10, pool=20, dense="graph",
            dim=64, n_cells=16, nprobe=4, ef=50,
        )

    def rel(df):
        return {
            (
                int(r["query_id"]),
                int(r["doc_id"]),
                round(float(r["rrf_score"]), 9),
                int(r["rank"]),
            )
            for r in df.collect()
        }

    # one-time epoch-contract pin for the graph tier: serving at the
    # committed epoch works; a bound below the store's stamp raises
    assert rel(hybrid_stored_graph(spark, sf_dir)), "graph tier empty"
    try:
        HS.hybrid_search_stored(
            spark, corpus, queries, k=10, pool=20, dense="graph",
            dim=64, n_cells=16, nprobe=4, ef=50, epoch=0,
        )
        raise AssertionError("below-stamp epoch served instead of raising")
    except ValueError as e:
        assert "below the store's retained horizon" in str(e), e
    a = rel(hybrid_oneshot(spark, sf_dir))
    b = rel(hybrid_stored(spark, sf_dir))
    assert a and a == b, (
        f"hybrid stored disagrees with one-shot ({len(a)} vs {len(b)})"
    )
    return (
        {
            "hybrid_oneshot": hybrid_oneshot,
            "hybrid_stored": hybrid_stored,
            "hybrid_stored_graph": hybrid_stored_graph,
        },
        {}, [root], [queries],
    )


def _qa_replay_fns(spark, sf_dir, with_graphs: bool = True):
    """r9 bench entries (VERDICT r8 #2): the reference's richest lifecycle
    — the stateful /qa replay (embed -> k=1 retrieve -> topic fold -> stub
    generate, services/qa_service.py:28-133) — timed at sf scale under
    BOTH retrieval tiers: exact (driver-sized query batch, the reference's
    regime) and the cell-routed graph walk (fully distributed, the 100 TB
    regime).  Index + event relation are built once outside the timed
    loop (ingest-time work); the timed number is embed + retrieve + state
    fold + prompt/stub-generate per replay.  ``with_graphs=False`` skips
    the celled-graph and stored-LSH builds: the ``qa_exact`` group's
    graph-free fixture, the one ``qa_replay_exact`` has been measured on
    since r11."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.config import DEFAULT_CONFIG
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.index_build import build_index
    from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
    from vector_search_question_answer_api_spark.operators.sessions import (
        replay_sessions,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table

    N_EVENTS = 20_000
    docs = load_table(spark, sf_dir, "documents")
    index = build_index(docs).persist()
    n_docs = index.count()
    qa_events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < N_EVENTS)
        .select(
            "event_id",
            "ts",
            F.col("user_id").cast("string").alias("session_id"),
            ((F.col("event_id") * 13 + 1) % n_docs).alias("q_doc"),
        )
        .join(
            F.broadcast(
                docs.select(
                    F.col("doc_id").alias("q_doc"),
                    F.col("text").alias("question"),
                )
            ),
            "q_doc",
        )
        .select("event_id", "ts", "session_id", "question")
        .persist()
    )
    qa_events.count()
    # Graph-tier knobs by the MEASURED sizing rules (SCALE.md): ef=10 is
    # one notch above the r7 ef-curve floor (min ef for recall>=0.95 is 5
    # at every corpus size tested); n_cells=32 fills the 32-core box one
    # cell-task per core.  ef=50 (the reference's serving default) walks
    # 5x the candidate frontier per query for no recall gain at k=1 —
    # measured 17.8 s -> 8.3 s on this entry.
    dim = DEFAULT_CONFIG.embedding_dim
    N_CELLS, NPROBE, EF = 32, 4, 10

    def qa_replay_exact(spark, sf_dir):
        return replay_sessions(qa_events, index)

    def qa_replay_lsh(spark, sf_dir):
        # the fully distributed tier (nothing collected/broadcast on either
        # side) at its defaults: rule-sized signature length + centered
        # planes (the r9 centered-LSH study — uncentered, this entry was
        # 38x slower from bucket collapse on the clustered text embedder)
        return replay_sessions(qa_events, index, retrieval="lsh")

    fns = {"qa_replay_exact": qa_replay_exact, "qa_replay_lsh": qa_replay_lsh}
    caches = [index, qa_events]
    roots = []
    if with_graphs:
        cents = centroid_grid(dim, N_CELLS)
        graphs = ann_hnsw.build_celled_hnsw(
            index, centroids=cents, dim=dim, n_cells=N_CELLS
        ).persist()
        graphs.count()

        def qa_replay_graph(spark, sf_dir):
            return replay_sessions(
                qa_events, index, retrieval="graph", graphs=graphs,
                graph_n_cells=N_CELLS, graph_nprobe=NPROBE, graph_ef=EF,
            )

        fns["qa_replay_graph"] = qa_replay_graph
        caches.append(graphs)

        # r11: the replay lsh tier served from the PERSISTED signature
        # table (the artifact maintain_corpus keeps fresh per ingest
        # batch) at the SAME manifest knobs the in-memory tier derives —
        # the replay-level half of the ann_lsh_mem/ann_lsh_ondisk
        # amortization pair: per replay, the corpus signature kernel
        # (O(corpus) Arrow UDF) is replaced by a 2-column parquet scan.
        from vector_search_question_answer_api_spark.operators import ann

        root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_replay_lsh_")
        roots.append(root)
        lsh_path = root + "/lsh"
        ann.write_lsh_index(
            index,
            lsh_path,
            dim=dim,
            n_planes=ann.recommended_n_planes(n_docs),
            center=ann.corpus_center(index, dim=dim),
        )

        def qa_replay_lsh_ondisk(spark, sf_dir):
            return replay_sessions(
                qa_events, index, retrieval="lsh", lsh_index_path=lsh_path
            )

        fns["qa_replay_lsh_ondisk"] = qa_replay_lsh_ondisk
    return fns, {}, roots, caches


def _refresh_fns(spark, sf_dir):
    """r9 bench entry (VERDICT r8 #1): incremental per-cell IVFPQ refresh
    after a 1% upsert batch against the MANAGED codes store — the engine's
    generalization of the reference's whole-index /refresh-index rebuild
    (services/index_service.py:112-115).  The store is built once outside
    the timed loop; each timed run performs the full refresh (dirty-set
    resolution incl. the membership lookup, re-encode of dirty cells,
    manifest swap + housekeeping).  The batch is CELL-LOCAL (1% of the
    corpus drawn from one coarse cell — the localized-update shape where
    incrementality pays; the scattered case and the rebuild crossover
    are recorded in measurements/r9_refresh_curve.json, SCALE.md r9).
    One-time pin: post-refresh serving over the store == serving over a
    fresh full rebuild."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.ivf import (
        assign_cell,
        centroid_grid,
    )
    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
        ivfpq_topk_ondisk,
        refresh_ivfpq_index,
        write_ivfpq_index_managed,
    )

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_refresh_")
    path = root + "/codes"
    N_CELLS = 16
    cbs = codebook_grid(64, 8, 16)
    cents = centroid_grid(64, N_CELLS)
    idx = _normed(spark, sf_dir).persist()
    n = idx.count()
    write_ivfpq_index_managed(
        idx, path, cbs, centroids=cents, dim=64, n_cells=N_CELLS
    )
    # 1% batch, drawn from the store's most populous cell (same-value
    # upsert: refresh cost is set by the DIRTY CELLS rebuilt, not by what
    # the new values are)
    with_cell = idx.withColumn(
        "cell", assign_cell(F.col("norm_embedding"), cents)
    )
    top_cell = int(
        with_cell.groupBy("cell").count().orderBy(F.desc("count")).first()["cell"]
    )
    delta = (
        with_cell.filter(F.col("cell") == top_cell)
        .drop("cell")
        .limit(max(1, n // 100))
        .persist()
    )
    delta.count()

    def ann_refresh_1pct(spark, sf_dir):
        dirty = refresh_ivfpq_index(
            spark, path, idx, delta, cbs, centroids=cents, dim=64,
            n_cells=N_CELLS,
        )
        return spark.createDataFrame([(c,) for c in dirty], "cell int")

    # serving == rebuild pin (the refresh left the store answering exactly
    # what a from-scratch write answers)
    ann_refresh_1pct(spark, sf_dir)
    q = idx.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def _rows(p):
        return {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
            for r in ivfpq_topk_ondisk(
                spark, q, p, idx, cbs, centroids=cents, k=5, dim=64,
                n_cells=N_CELLS, nprobe=4, refine=8,
            ).collect()
        }

    rebuilt = root + "/codes_rebuilt"
    write_ivfpq_index_managed(
        idx, rebuilt, cbs, centroids=cents, dim=64, n_cells=N_CELLS
    )
    assert _rows(path) == _rows(rebuilt), "refreshed store != full rebuild"

    return {"ann_refresh_1pct": ann_refresh_1pct}, {}, [root], [idx, delta]


def _span_store_fns(spark, sf_dir):
    """r9 bench entry (VERDICT r8 #8): the decontamination primitive a
    training pipeline calls most — duplicated spans of an incoming batch
    against the incremental span STORE (store holds half the corpus,
    probe is the other half), no re-tokenization of stored documents.
    Store build is ingest-time work, outside the timed loop."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.sources.tables import load_table
    from vector_search_question_answer_api_spark.streaming import span_stream as ST

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_spans_")
    store = root + "/store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ST.append_span_batch(docs.filter(F.col("doc_id") % 2 == 0), store, 0, k=8)
    probe = docs.filter(F.col("doc_id") % 2 == 1).persist()
    probe.count()

    def span_contamination(spark, sf_dir):
        return ST.batch_spans_against_store(spark, probe, store, k=8)

    return {"span_contamination": span_contamination}, {}, [root], [probe]


def _box_fingerprint() -> dict:
    """Two single-core probe constants + CPU model — the cross-round
    hardware fingerprint (r10 reconciliation, SCALE.md): each round runs
    in a fresh container on a host that varies, and the r9 "+43% drift"
    was entirely the box (the r8 TREE reproduced the slow numbers on the
    r10 box).  Cross-round entry comparisons are only meaningful after
    normalizing by these."""
    import hashlib
    import time as _t

    t0 = _t.perf_counter()
    h = b"x" * 1000
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    sha = round(_t.perf_counter() - t0, 3)
    t0 = _t.perf_counter()
    s = 0
    for i in range(10**6):
        s += i
    loop = round(_t.perf_counter() - t0, 4)
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"sha256_200k_sec": sha, "pyloop_1e6_sec": loop, "cpu": model}


def _ingest_fns(spark, sf_dir):
    """r10 bench entry (VERDICT r9 #5): ONE composed-ingest micro-batch —
    the reference's /refresh-index under continuous writes
    (services/index_service.py:112-115), generalized to the full artifact
    fan-out — through the REAL ``maintain_corpus`` streaming composition
    (profile sketch + span store + index log + both managed ANN refreshes)
    at a pinned batch profile: 500 rows (450 new + 50 updates), 16 cells,
    2000-doc standing corpus.  The store+checkpoint are snapshotted after
    a bootstrap batch; each timed run restores the snapshot UNTIMED (the
    ``pre_run`` hook) and pays exactly one end-to-end micro-batch.
    One-time pin: post-batch codes-store serving == a from-scratch
    managed rebuild over the resolved index."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
    from vector_search_question_answer_api_spark.operators.pq import (
        codebook_grid,
        ivfpq_topk_ondisk,
        write_ivfpq_index_managed,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table
    from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_ingest_")
    src = f"{root}/src"
    os.makedirs(src, exist_ok=True)
    N_CELLS, DIM = 16, 64
    cbs = codebook_grid(DIM, 8, 16)
    cents = centroid_grid(DIM, N_CELLS)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
    )
    schema = docs.schema
    initial = docs.filter(F.col("doc_id") < 2000)
    batch = docs.filter(
        (F.col("doc_id") >= 2000) & (F.col("doc_id") < 2450)
    ).unionByName(
        docs.filter(F.col("doc_id") < 50)
        .withColumn("text", F.concat(F.lit("update cycle 1 "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    initial.coalesce(1).write.parquet(f"{src}/b000")

    def _run(store, ck):
        q = IG.maintain_corpus(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            store,
            checkpoint=ck,
            codebooks=cbs,
            ann_graphs=True,
            centroids=cents,
            dim=DIM,
            n_cells=N_CELLS,
            trigger_once=True,
        )
        q.awaitTermination()

    # bootstrap: initial corpus through the pipeline, then snapshot
    store_tpl, ck_tpl = f"{root}/store_tpl", f"{root}/ck_tpl"
    _run(store_tpl, ck_tpl)
    batch.coalesce(1).write.parquet(f"{src}/b001")  # now pending in src

    store, ck = f"{root}/store", f"{root}/ck"

    def _restore():
        for tpl, dst in ((store_tpl, store), (ck_tpl, ck)):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(tpl, dst)

    def ingest_batch(spark, sf_dir):
        _run(store, ck)  # processes exactly the pending 500-row batch
        return spark.range(1)

    # serving == rebuild pin on the post-batch store
    _restore()
    ingest_batch(spark, sf_dir)
    index = IG.read_corpus_index(spark, store).persist()
    q = index.orderBy("doc_id").limit(10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def _rows(p):
        return {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
            for r in ivfpq_topk_ondisk(
                spark, q, p, index, cbs, centroids=cents, k=5, dim=DIM,
                n_cells=N_CELLS, nprobe=4, refine=8,
            ).collect()
        }

    ref = f"{root}/probe_rebuild"
    write_ivfpq_index_managed(
        index, ref, cbs, centroids=cents, dim=DIM, n_cells=N_CELLS
    )
    assert _rows(f"{store}/codes") == _rows(ref), (
        "post-ingest codes store != full rebuild"
    )
    index.unpersist()

    return {"ingest_batch": ingest_batch}, {"ingest_batch": _restore}, [root], []


def _ingest_delete_fns(spark, sf_dir):
    """r11 bench entry: ONE composed-ingest DELETION micro-batch — the
    takedown / right-to-be-forgotten path (index_stream.tombstones via a
    ``_delete`` stream column) — through the FULL maintain_corpus fan-out
    (index log + both managed ANN refreshes + lsh signature store +
    maintained radii + vecmean correction) at a pinned profile: 50
    deletions against the same 2000-doc standing corpus the
    ``ingest_batch`` entry uses.  Its own fixture root (the upsert
    entry's snapshot profile stays untouched for cross-round
    comparability); snapshot-restored per attempt like ``ingest_batch``.
    One-time pin: the post-delete resolved index excludes the 50 and the
    graph store serves exactly what a post-delete rebuild serves.
    Deletion should be the CHEAPEST batch in the system: id-sized log
    append + |dirty|/n_cells refresh, zero vectors embedded."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
    from vector_search_question_answer_api_spark.operators.pq import codebook_grid
    from vector_search_question_answer_api_spark.sources.tables import load_table
    from vector_search_question_answer_api_spark.streaming import (
        ingest_stream as IG,
    )

    root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_bench_ingest_del_")
    src = f"{root}/src"
    os.makedirs(src, exist_ok=True)
    N_CELLS, DIM = 16, 64
    cbs = codebook_grid(DIM, 8, 16)
    cents = centroid_grid(DIM, N_CELLS)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    schema = docs.schema
    initial = docs.filter(F.col("doc_id") < 2000)
    dels = initial.filter(F.col("doc_id") % 40 == 0).select(
        "doc_id",
        F.timestamp_millis(F.lit(10_000_000)).alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
        F.lit(True).alias("_delete"),
    )
    initial.coalesce(1).write.parquet(f"{src}/b000")
    n0 = initial.count()  # sf-dependent: smaller SFs hold < 2000 docs
    art_src = f"{root}/art"
    ann.write_lsh_artifact(
        art_src, dim=DIM, n_planes=ann.recommended_n_planes(n0), center=None
    )

    def _run(store, ck):
        q = IG.maintain_corpus(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            store,
            checkpoint=ck,
            codebooks=cbs,
            ann_graphs=True,
            centroids=cents,
            dim=DIM,
            n_cells=N_CELLS,
            trigger_once=True,
            lsh_artifact=art_src,
            graph_radii=True,
        )
        q.awaitTermination()

    store_tpl, ck_tpl = f"{root}/store_tpl", f"{root}/ck_tpl"
    _run(store_tpl, ck_tpl)  # bootstrap the 2000-doc corpus
    dels.coalesce(1).write.parquet(f"{src}/b001")  # pending deletion batch

    store, ck = f"{root}/store", f"{root}/ck"

    def _restore():
        for tpl, dst in ((store_tpl, store), (ck_tpl, ck)):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(tpl, dst)

    def ingest_delete_batch(spark, sf_dir):
        _run(store, ck)  # processes exactly the pending 50-deletion batch
        return spark.range(1)

    # one-time pin: resolved index excludes the deletions; graph serving
    # == post-delete rebuild
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    _restore()
    ingest_delete_batch(spark, sf_dir)
    deleted = {int(r["doc_id"]) for r in dels.select("doc_id").collect()}
    fin = IG.read_corpus_index(spark, store).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    ).persist()
    alive = {int(r["doc_id"]) for r in fin.select("doc_id").collect()}
    assert alive.isdisjoint(deleted) and len(alive) == n0 - len(deleted)
    qd = fin.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def _rows(g):
        return {
            (int(r["query_id"]), int(r["rank"])): int(r["doc_id"])
            for r in ann_hnsw.celled_hnsw_topk_cogrouped(
                g, qd, centroids=cents, k=5, ef=200, dim=DIM,
                n_cells=N_CELLS, nprobe=N_CELLS,
            ).collect()
        }

    got = _rows(ann_hnsw.read_celled_hnsw_index(spark, f"{store}/graphs"))
    want = _rows(
        ann_hnsw.build_celled_hnsw(
            fin, centroids=cents, dim=DIM, n_cells=N_CELLS
        )
    )
    assert got == want and got, "post-delete graph store != rebuild"
    fin.unpersist()

    return (
        {"ingest_delete_batch": ingest_delete_batch},
        {"ingest_delete_batch": _restore},
        [root], [],
    )


def _corpus_fns(spark, sf_dir):
    """r7 bench entries over the documents table, no fixture to build."""
    from vector_search_question_answer_api_spark.operators import sketches as SK
    from vector_search_question_answer_api_spark.operators import spans as SPN
    from vector_search_question_answer_api_spark.sources.tables import load_table

    # sketch-tier corpus profiling — the CMS heavy-hitter pass (sampled
    # candidates + full-corpus count-min re-estimate), the expensive half
    # of operators/sketches.corpus_profile.  Timed as the sketch path a
    # 100 TB profile run takes instead of the vocabulary-sized exact top-k.
    def corpus_profile_sketch(spark, sf_dir):
        d = load_table(spark, sf_dir, "documents")
        return SK.heavy_hitters_sketch(d, k=20, sample_mod=4, candidate_factor=4)

    # substring-level dedup (Lee et al. 2021) — the full pipeline:
    # k-gram hash-agg -> keep-first marks -> island merge -> HOF strip.
    def dup_span_strip(spark, sf_dir):
        d = load_table(spark, sf_dir, "documents")
        return SPN.strip_duplicate_spans(d, k=8)

    return (
        {
            "corpus_profile_sketch": corpus_profile_sketch,
            "dup_span_strip": dup_span_strip,
        },
        {}, [], [],
    )


# The one entry -> fixture table: group -> (entries, build).  Every
# build function takes (spark, sf_dir) and returns (fns, hooks, roots, caches):
# the entry callables, the per-entry UNTIMED pre-run hooks (state restore
# for entries whose work mutates standing stores — the clock starts after
# the hook), the temp dirs to delete and the frames to unpersist.  The
# suite times HEADLINE then every group's entries in table order; the
# probe mode builds only the groups its entries need.
GROUPS = {
    "zipf": (["topk_zipf_direct", "topk_zipf_salted"], _zipf_topk_fns),
    "r4": (["ann_pq_topk", "dedup_embedding_semdedup"], _r4_tier_fns),
    "ivfpq_ondisk": (["ann_ivfpq_ondisk"], _ivfpq_ondisk_fn),
    "hnsw": (
        ["ann_hnsw_topk", "ann_hnsw_celled", "knn_graph_full",
         "filtered_knn_exact", "filtered_knn_postfilter"],
        _hnsw_fn,
    ),
    "corpus": (["corpus_profile_sketch", "dup_span_strip"], _corpus_fns),
    "qa_exact": (
        ["qa_replay_exact"],
        lambda spark, sf_dir: _qa_replay_fns(spark, sf_dir, with_graphs=False),
    ),
    "qa": (
        ["qa_replay_graph", "qa_replay_lsh", "qa_replay_lsh_ondisk"],
        _qa_replay_fns,
    ),
    "refresh": (["ann_refresh_1pct"], _refresh_fns),
    "span": (["span_contamination"], _span_store_fns),
    "ingest": (["ingest_batch"], _ingest_fns),
    "ingest_del": (["ingest_delete_batch"], _ingest_delete_fns),
    "lsh_ondisk": (
        ["ann_lsh_mem", "ann_lsh_ondisk", "ann_lsh_maintained"],
        _lsh_ondisk_fns,
    ),
    "bm25_store": (
        ["bm25_oneshot", "bm25_stored", "bm25_stored_maintained"],
        _bm25_stored_fns,
    ),
    "hybrid": (
        ["hybrid_oneshot", "hybrid_stored", "hybrid_stored_graph"],
        _hybrid_stored_fns,
    ),
}
ENTRY_GROUP = {e: g for g, (entries, _) in GROUPS.items() for e in entries}

# r9 (VERDICT r8 #1/#2/#8): refresh economics, QA replay, span store and
# every later group build their fixtures LAZILY in the suite, immediately
# before their own entries are timed: building them eagerly up front
# measurably degraded every pre-existing entry (+15-40% uniform,
# certified — the same long-process inflation the r5 reconciliation
# documented), destroying cross-round comparability of the 27 shared
# entries.  Lazy setup keeps the shared prefix's process state identical
# to r8; the new entries are measured in late-process state like any long
# suite's tail.
LAZY = {
    "qa_exact", "qa", "refresh", "span", "ingest", "ingest_del",
    "lsh_ondisk", "bm25_store", "hybrid",
}


def _entry(name, qs, built, spark, sf_dir):
    """(fn, untimed pre-run hook) of an entry, building its group into
    ``built`` on first use; fn is None for an unknown entry."""
    g = ENTRY_GROUP.get(name)
    if g is None:
        return qs.get(name), None
    if g not in built:
        built[g] = GROUPS[g][1](spark, sf_dir)
    fns, hooks, _roots, _caches = built[g]
    return fns[name], hooks.get(name)


def _release(groups) -> None:
    import shutil

    for _fns, _hooks, roots, caches in groups:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)
        for c in caches:
            c.unpersist()


# Cross-process certification for EVERY ``qa_replay_*`` tier (VERDICT r10
# wrong #1 / next #2 for the exact tier; r13 extends it to graph/lsh —
# VERDICT r12 wrong #2: ``qa_replay_graph`` swung 6.2 -> 9.4 s between
# two same-code r12 ledgers).  r10 measured 4.1 / 9.2 / 15.2 s minima for
# ``qa_replay_exact`` in three quiet processes on the same code and data:
# the entries are LEVEL-UNSTABLE across processes, so an in-process min-of-N
# provably does not characterize them; the MEDIAN OF PER-PROCESS MINIMA
# does.  M=3 fresh probes, each measuring the tiers in this FIXED order
# (exact first, on its graph-free fixture, preserving the r11 exact
# protocol) so per-process minima are comparable across probes and rounds.
# ADAPTIVE M (r14 — VERDICT r13 wrong #2 / next #2: two consecutive rounds
# of fixed M=3 left ``qa_replay_exact`` uncertified because ONE probe per
# run diverged 2x and failed its own best-2 agreement): entries short of 2
# self-certified probes get targeted extra probes, up to 6 processes.
REPLAY_FRESH = [
    "qa_replay_exact",
    "qa_replay_lsh",
    "qa_replay_graph",
    "qa_replay_lsh_ondisk",
]

# Entries measured in a FRESH PROCESS (r14 — VERDICT r13 wrong #1): the
# r13 ledger recorded mmr_topk 1.91->4.23 and topk_zipf_direct 1.92->4.85
# on UNTOUCHED code; the r14 7-run fresh-process re-measure
# (measurements/r14_watchlist_remeasure.json) certified all four at or
# BELOW their r12 levels (1.09 / 1.23 / 1.48 / 0.46) on a slightly
# SLOWER box — the regression was accumulated in-suite process state
# (the suite grew a 4x longer pre-suite probe phase + 3 entries in r13),
# not code.  These entries are level-stable across fresh processes but
# inflation-sensitive in a long suite, so the suite records them from one
# fresh probe process (``bench.py --probe --runs 7``), exactly as the
# level-UNSTABLE qa_replay_* tiers get the median-of-process-minima
# protocol.  The salted zipf twin rides along so the direct-vs-salted
# skew contrast stays same-protocol.
WATCHLIST_FRESH = [
    "mmr_topk",
    "topk_zipf_direct",
    "topk_zipf_salted",
    "mixture_sample",
    # r15 (VERDICT r14 next #5): the driver's BENCH_r14 tail showed the
    # bm25 family +40-75% and hybrid_oneshot +34% vs its own r13 tail on
    # near-identical boxes, on code untouched or lightly touched, while
    # the builder's FRESH ledger had the same entries at or below r13 —
    # the exact in-suite late-position inflation signature root-caused
    # for the four entries above.  These run late in the suite (lazy
    # fixture groups), so they get the same fresh-process 7-run
    # protocol; their fixtures build inside the probe process.
    "bm25_oneshot",
    "bm25_stored",
    "bm25_stored_maintained",
    "hybrid_oneshot",
    # r15 (VERDICT r14 next #6): the stored hybrid tiers' r14 +16-26%
    # reconciled by measurement (measurements/r15_hybrid_premium.json):
    # committed-epoch serving measured AT OR BELOW the live view
    # (premium -0.52 s lsh / -1.10 s graph), so the epoch/history
    # resolution machinery costs nothing at serve time — while the same
    # probe process shows the graph tier inflating 4.7→22.4 s across 7
    # in-process runs, the position-inflation signature again.  Both
    # tiers ride the fresh protocol (same fixture build as
    # hybrid_oneshot, so the marginal probe cost is two more entries).
    "hybrid_stored",
    "hybrid_stored_graph",
]


def _launch(entries: "list[str]", runs: "int | None") -> "list[dict]":
    """One fresh probe process (``bench.py --probe``: fresh JVM + fresh
    Python, run sequentially BEFORE the suite session exists so it never
    competes with it); returns its per-entry records, none when it fails."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--probe"]
    if runs:
        cmd += ["--runs", str(runs)]
    try:
        # the watchlist builds the bm25/hybrid fixtures (a postings build
        # + a full 3-batch maintain_corpus run) inside the probe process
        out = subprocess.run(
            [*cmd, *entries], capture_output=True, text=True, timeout=3600
        )
    except (subprocess.TimeoutExpired, OSError) as e:
        print(f"probe {entries}: {e}", file=sys.stderr)
        return []
    if out.returncode != 0:
        print(
            f"probe {entries}: rc={out.returncode} "
            f"{out.stderr.strip().splitlines()[-1:] or ''}",
            file=sys.stderr,
        )
        return []
    recs = []
    for line in out.stdout.splitlines():
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(rec, dict) and rec.get("entry") in entries and "min" in rec:
            recs.append(rec)
    return recs


def _reduce(by_entry: "dict[str, list[dict]]", m: int, runs: "int | None") -> dict:
    """Per-entry {value, ledger} from the probe records of each entry.

    The value is the median of the per-process minima over the CERTIFIED
    probes — an uncertified probe's min is a draw its own in-process
    protocol could not reproduce, so it is excluded from the statistic but
    kept in the ledger (``process_minima_all``).  An entry is certified
    when at least ``min(2, m)`` of its probes certified themselves; when
    not, the median over ALL minima is reported uncertified.  An entry
    with fewer than ``min(2, m)`` records is left out, so the suite
    measures it in-process instead.  With one probe (m=1) this is that
    process's min and certification, ledgered as its run list."""
    import statistics

    need = min(2, m)
    result: dict[str, dict] = {}
    for entry, probes in by_entry.items():
        if len(probes) < need:
            continue
        cert = [p for p in probes if p["certified"]]
        certified = len(cert) >= need
        minima = sorted(p["min"] for p in (cert if certified else probes))
        if len(probes) == 1:
            (p,) = probes
            ledger = {
                "n": len(p["runs"]),
                "best2": p["best2"],
                "certified": certified,
                "protocol": f"fresh-process-{runs}run",
                "runs": p["runs"],
            }
        else:
            ledger = {
                "n": len(probes),
                "best2": minima[:2],
                "certified": certified,
                "protocol": "median-of-certified-process-minima",
                "n_certified": len(cert),
                "process_minima": minima,
                "process_minima_all": sorted(p["min"] for p in probes),
                "process_runs": [p["runs"] for p in probes],
            }
        result[entry] = {
            "value": round(statistics.median(minima), 3),
            "ledger": ledger,
        }
    return result


def _fresh(
    entries: "list[str]", m: int, m_cap: int, runs: "int | None"
) -> "dict[str, dict] | None":
    """Measure ``entries`` in ``m`` fresh probe processes, then top up:
    while some entry has fewer than ``min(2, m)`` self-certified records
    (zero records counts too — r15, ADVICE r14: a tier every base probe
    failed to emit is retried, never silently dropped), one more probe
    re-measures only the deficient entries, up to ``m_cap`` processes in
    all.  Returns ``_reduce``'s {entry: {value, ledger}}, or None (in-suite
    fallback) when no probe produced a record."""
    by_entry: dict[str, list[dict]] = {}

    def probe(es):
        for rec in _launch(es, runs):
            by_entry.setdefault(rec["entry"], []).append(rec)

    for _ in range(m):
        probe(entries)
    if not by_entry:
        return None

    def deficient() -> "list[str]":
        return [
            e
            for e in entries
            if sum(p["certified"] for p in by_entry.get(e, ())) < min(2, m)
        ]

    n_probes = m
    while n_probes < m_cap and deficient():
        probe(deficient())
        n_probes += 1
    return _reduce(by_entry, m, runs) or None


def _probe(argv: "list[str]", sf_dir: str) -> None:
    """``bench.py --probe [--runs N] ENTRY...``: measure the named entries
    in THIS process under the suite's protocol (same warmup, same
    cache_scope, same pre-run hooks) but without the rest of the suite, so
    an entry's number is free of long-process inflation.  ``--runs N``
    makes exactly N runs per entry (no early exit: a full distribution);
    without it the adaptive best-of-5.  Each group's fixture is built just
    before its first named entry and released after its last one.  Prints
    one JSON line per entry: {"entry", "min", "best2", "certified",
    "runs"}."""
    runs = None
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1]) or None
        argv = argv[:i] + argv[i + 2:]
    if not argv:
        print("usage: bench.py --probe [--runs N] ENTRY [ENTRY...]", file=sys.stderr)
        sys.exit(2)
    spark = get_spark(app_name="bench_probe")
    inventory.RUN_TWIN_CHECKS = False
    qs = inventory.queries()
    _warmup(spark, sf_dir)
    built: dict[str, tuple] = {}
    for i, name in enumerate(argv):
        fn, hook = _entry(name, qs, built, spark, sf_dir)
        if fn is None:
            print(json.dumps({"entry": name, "err": "unknown entry"}), flush=True)
            continue
        rec = _measure(lambda: fn(spark, sf_dir), hook, runs)
        print(json.dumps({"entry": name, **rec}), flush=True)
        g = ENTRY_GROUP.get(name)
        if g is not None and g not in map(ENTRY_GROUP.get, argv[i + 1:]):
            _release([built.pop(g)])
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if sys.argv[1:2] == ["--probe"]:
        return _probe(sys.argv[2:], sf_dir)
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    box = _box_fingerprint()
    # the cross-process protocols run FIRST: fresh probe JVMs, never
    # concurrent with the suite session
    xproc = {
        **(_fresh(REPLAY_FRESH, m=3, m_cap=6, runs=None) or {}),
        **(_fresh(WATCHLIST_FRESH, m=1, m_cap=1, runs=7) or {}),
    }
    spark = get_spark(app_name="bench")

    # Time the primary production path: the in-gate strategy-twin
    # verification (correctness-harness behavior) would otherwise run two
    # physical strategies inside one timed query.  See inventory.RUN_TWIN_CHECKS.
    inventory.RUN_TWIN_CHECKS = False

    qs = inventory.queries()
    _warmup(spark, sf_dir)
    built = {
        g: build(spark, sf_dir)
        for g, (_, build) in GROUPS.items()
        if g not in LAZY
    }
    zipf, r4 = built["zipf"][0], built["r4"][0]
    # one-time equality pin: both skew strategies must emit the identical
    # relation before their timings mean anything
    a = set(map(tuple, zipf["topk_zipf_direct"](spark, sf_dir).collect()))
    b = set(map(tuple, zipf["topk_zipf_salted"](spark, sf_dir).collect()))
    assert a == b and a, f"zipf top-k strategy mismatch ({len(a)} vs {len(b)})"
    # one-time subset pin: the cell-scoped dedup tier must emit a nonempty
    # subset of the exact broadcast relation (false pairs are impossible)
    from vector_search_question_answer_api_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(
            emb, min_sim=0.45, strategy="broadcast"
        ).collect()
    }
    sem_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in r4["dedup_embedding_semdedup"](spark, sf_dir).collect()
    }
    assert sem_pairs and sem_pairs <= exact_pairs, (
        f"semdedup tier not a nonempty subset ({len(sem_pairs)} vs "
        f"{len(exact_pairs)} exact)"
    )

    timings: dict[str, float] = {}
    ledger: dict[str, dict] = {}
    for name in [*HEADLINE, *ENTRY_GROUP]:
        if name in xproc:
            # recorded by the cross-process protocol above; the in-suite
            # path remains only as the fallback when probes cannot run
            timings[name] = xproc[name]["value"]
            ledger[name] = xproc[name]["ledger"]
            continue
        fn, hook = _entry(name, qs, built, spark, sf_dir)
        if fn is None:
            continue
        rec = _measure(lambda: fn(spark, sf_dir), hook)
        timings[name] = rec["min"]
        # ADVICE r5: min over N>2 runs is biased low vs earlier rounds'
        # min-of-2 — record N and the certified pair (two fastest) per
        # query so cross-round comparisons can use a like-for-like
        # statistic (the pair's SECOND-fastest is the unbiased choice).
        ledger[name] = {
            "n": len(rec["runs"]),
            "best2": rec["best2"],
            "certified": rec["certified"],
        }

    _release(built.values())
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "run_ledger": ledger,
        "box": box,
        "sf": sf,
    }
    line = json.dumps(out)
    # One-line-JSON contract guard (VERDICT r15 #7): the driver parses
    # exactly ONE JSON line from stdout — BENCH_r14's PERF comparison was
    # lost to an unparseable artifact.  Never emit embedded newlines, and
    # if the line outgrows the cap, degrade the DIAGNOSTIC ledger detail
    # (per-process run arrays first, the whole ledger as a last resort) —
    # never the contract fields (metric/value/unit/queries/sf).
    _LINE_CAP = 200_000
    if len(line) > _LINE_CAP:
        for led in ledger.values():
            for detail in (
                "process_runs", "process_minima_all", "process_minima"
            ):
                led.pop(detail, None)
        out["run_ledger_truncated"] = True
        line = json.dumps(out)
    if len(line) > _LINE_CAP:
        out.pop("run_ledger", None)
        line = json.dumps(out)
    assert "\n" not in line, "bench output must be one JSON line"
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
