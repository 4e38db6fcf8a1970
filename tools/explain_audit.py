#!/usr/bin/env python
"""Dump the executed physical plans of the headline queries to PLANS.md —
the audit artifact for scale-critical plan properties (pushdown, pruning,
broadcast selection, codegen spans).  tests/test_plans.py asserts the
properties; this file makes them reviewable.

Usage: python tools/explain_audit.py [sf_dir] (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "knn_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_embedding",
    "events_session_windows",
    "qa_sessions_replay",
    "bm25_topk",
    "hybrid_rrf_topk",
    "events_asof_join",
    "stratified_sample",
    "mixture_sample",
    "filter_funnel",
    "mmr_topk",
]

INTERESTING = re.compile(
    r"FileScan|PushedFilters|ReadSchema|Join|Exchange|HashAggregate|Window|"
    r"MapInPandas|ArrowEval|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"Sort \["
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from vector_search_question_answer_api_spark import inventory
    from vector_search_question_answer_api_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    # Audit the primary production plan: with twin checks on, twin gates
    # return a persisted relation and the executed plan collapses to an
    # InMemoryTableScan, hiding the real scan/join/exchange structure.
    inventory.RUN_TWIN_CHECKS = False
    qs = inventory.queries()
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`. Lines filtered to",
        "scan/join/exchange/aggregate/window/python nodes; `*(N)` prefixes mark",
        "whole-stage-codegen spans. Plan properties are asserted in",
        "`tests/test_plans.py`; this file is the human-readable evidence.",
        "",
    ]
    import shutil
    import tempfile

    # non-gate plans worth auditing: the on-disk IVFPQ composition (the
    # 100 TB layout — partition filter + codes-only ReadSchema + deferred
    # vector fetch must be visible in the plan)
    extra_root = tempfile.mkdtemp(prefix="vector_search_question_answer_api_spark_audit_")

    def _ivfpq_ondisk(spark, sf_dir):
        from pyspark.sql import functions as F

        from vector_search_question_answer_api_spark.functions import vector as V
        from vector_search_question_answer_api_spark.operators.pq import (
            codebook_grid,
            ivfpq_topk_ondisk,
            write_ivfpq_index,
        )
        from vector_search_question_answer_api_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = emb.select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("norm_embedding"),
        )
        cbs = codebook_grid(64, 8, 16)
        path = extra_root + "/codes"
        write_ivfpq_index(idx, path, cbs, dim=64, n_cells=16)
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return ivfpq_topk_ondisk(
            spark, q, path, idx, cbs, k=5, dim=64, n_cells=16, nprobe=4, refine=8
        )

    def _celled_cogrouped(spark, sf_dir):
        # the r6 large-batch graph serving shape: graphs cogrouped with
        # their routed queries on cell — queries never collected, graphs
        # never broadcast
        from pyspark.sql import functions as F

        from vector_search_question_answer_api_spark.functions import vector as V
        from vector_search_question_answer_api_spark.operators import ann_hnsw
        from vector_search_question_answer_api_spark.operators.ivf import (
            centroid_grid,
        )
        from vector_search_question_answer_api_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = emb.select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("norm_embedding"),
        )
        cents = centroid_grid(64, 16)
        graphs = ann_hnsw.build_celled_hnsw(
            idx, centroids=cents, dim=64, n_cells=16
        )
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, q, centroids=cents, k=5, ef=50, dim=64, n_cells=16,
            nprobe=4,
        )

    def _ivfpq_managed_refreshed(spark, sf_dir):
        # r7: the MANAGED codes store after an incremental refresh — two
        # live generations, each scanned with its manifest-cell partition
        # filter composed with the probed-cell set; superseded partitions
        # never listed
        from pyspark.sql import functions as F

        from vector_search_question_answer_api_spark.functions import vector as V
        from vector_search_question_answer_api_spark.operators.pq import (
            codebook_grid,
            ivfpq_topk_ondisk,
            refresh_ivfpq_index,
            write_ivfpq_index_managed,
        )
        from vector_search_question_answer_api_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = emb.select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("norm_embedding"),
        )
        cbs = codebook_grid(64, 8, 16)
        path = extra_root + "/managed_codes"
        write_ivfpq_index_managed(idx, path, cbs, dim=64, n_cells=16)
        refresh_ivfpq_index(
            spark, path, idx, idx.filter(F.col("doc_id") < 3), cbs,
            dim=64, n_cells=16,
        )
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return ivfpq_topk_ondisk(
            spark, q, path, idx, cbs, k=5, dim=64, n_cells=16, nprobe=4, refine=8
        )

    def _filtered_exact(spark, sf_dir):
        # r7: filtered vector search, exact strategy — the predicate must
        # reach the parquet scan as a pushed filter BEFORE any similarity
        # work
        from pyspark.sql import functions as F

        from vector_search_question_answer_api_spark.functions import vector as V
        from vector_search_question_answer_api_spark.operators.search import (
            filtered_knn,
        )
        from vector_search_question_answer_api_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = emb.select(
            "vec_id",
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("norm_embedding"),
        )
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return filtered_knn(q, idx, F.col("vec_id") % 3 != 0, k=5)

    def _dup_span_strip(spark, sf_dir):
        # r7: substring-level dedup — the whole pipeline must show ONE
        # gram hash-agg, equi-joins (no nested loop), one doc-keyed window
        # shuffle for the island merge, and the map phase ABOVE the
        # parallelizing exchange (the InferFiltersFromGenerate lesson)
        from vector_search_question_answer_api_spark.operators.spans import (
            strip_duplicate_spans,
        )
        from vector_search_question_answer_api_spark.sources.tables import load_table

        return strip_duplicate_spans(
            load_table(spark, sf_dir, "documents"), k=8
        )

    def _lsh_maintained_read(spark, sf_dir):
        # r12: the LOG-BEARING stored-LSH serving plan — the base
        # signature table must feed the bucket join through a broadcast
        # anti-join on the log's doc_ids (LeftAnti, BuildRight) with NO
        # Exchange over the base scan; only the log (a few batches)
        # windows.  VERDICT r11 #1's done-criterion, made reviewable.
        from pyspark.sql import functions as F

        from vector_search_question_answer_api_spark.functions import vector as V
        from vector_search_question_answer_api_spark.operators import ann
        from vector_search_question_answer_api_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = emb.select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("norm_embedding"),
        )
        path = extra_root + "/lsh_maintained"
        ann.write_lsh_index(idx, path, n_planes=8, n_tables=8)
        art = ann.read_lsh_artifact(path)
        b = idx.filter(F.col("doc_id") < 40).withColumn(
            "ts", F.timestamp_millis(F.lit(1_000_000))
        )
        ann.append_lsh_signatures_batch(b, path, 0, art)
        q = idx.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )
        return ann.ann_lsh_topk_ondisk(spark, q, path, idx, k=5)

    def _hybrid_stored(spark, sf_dir):
        # r12: hybrid (BM25 + stored-LSH) serving from maintained stores
        # at the committed epoch — the fused plan must compose the two
        # audited store shapes (pruned tb-partitioned postings scan under
        # no Exchange; signature base behind a broadcast anti-join) with
        # ONE union + hash-agg + ranked window for the RRF cut, and no
        # new exchanges beyond them
        from pyspark.sql import functions as F

        from vector_search_question_answer_api_spark.operators import (
            ann,
            hybrid_store as HS,
        )
        from vector_search_question_answer_api_spark.operators.index_build import (
            build_index,
        )
        from vector_search_question_answer_api_spark.sources.tables import (
            load_table,
        )
        from vector_search_question_answer_api_spark.streaming import (
            ingest_stream as IG,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
            "text",
            "n_chars",
            F.lit(False).alias("_delete"),
        )
        b0 = docs.filter("doc_id % 2 = 0")
        b1 = docs.filter("doc_id % 2 = 1")
        src = extra_root + "/hybrid_src"
        for i, b in enumerate((b0, b1)):
            b.coalesce(1).write.parquet(f"{src}/b{i}")
        art = {
            "family": ann.LSH_FAMILY,
            "dim": 64,
            "n_planes": 8,
            "n_tables": 8,
            "center": ann.corpus_center(build_index(b0.drop("_delete"))),
        }
        corpus = extra_root + "/hybrid_corpus"
        stream_q = IG.maintain_corpus(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            corpus,
            checkpoint=extra_root + "/hybrid_ckpt",
            dim=64,
            trigger_once=True,
            lsh_artifact=art,
            docs_store=True,
            postings_store=True,
            postings_buckets=8,
        )
        assert stream_q.awaitTermination(600)
        idx = IG.read_corpus_index(spark, corpus)
        q = IG.read_corpus_docs(spark, corpus).filter(
            F.col("doc_id") % 100 == 0
        ).select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
        ).join(
            idx.select(
                F.col("doc_id").alias("query_id"),
                F.col("norm_embedding").alias("qvec"),
            ),
            "query_id",
        )
        return HS.hybrid_search_stored(
            spark, corpus, q, k=5, pool=10, dense="lsh"
        )

    qs = dict(qs)
    qs["dup_span_strip (non-gate)"] = _dup_span_strip
    qs["hybrid_stored (non-gate)"] = _hybrid_stored
    qs["lsh_maintained_read (non-gate)"] = _lsh_maintained_read
    qs["ivfpq_topk_ondisk (non-gate)"] = _ivfpq_ondisk
    qs["celled_hnsw_cogrouped (non-gate)"] = _celled_cogrouped
    qs["ivfpq_managed_refreshed (non-gate)"] = _ivfpq_managed_refreshed
    qs["filtered_knn_exact (non-gate)"] = _filtered_exact
    audited = [
        *AUDITED,
        "dup_span_strip (non-gate)",
        "ivfpq_topk_ondisk (non-gate)",
        "celled_hnsw_cogrouped (non-gate)",
        "ivfpq_managed_refreshed (non-gate)",
        "filtered_knn_exact (non-gate)",
        "lsh_maintained_read (non-gate)",
        "hybrid_stored (non-gate)",
    ]
    for name in audited:
        df = qs[name](spark, sf_dir)
        df.collect()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        lines = [
            l.rstrip()[:160]
            for l in final.splitlines()
            if INTERESTING.search(l)
        ]
        out.append(f"## {name}\n")
        out.append("```")
        out.extend(lines)
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    shutil.rmtree(extra_root, ignore_errors=True)
    print(f"wrote PLANS.md ({len(audited)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
