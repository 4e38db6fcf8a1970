"""The r5 in-gate twins must be able to FAIL: each test corrupts the
component under verification (monkeypatching the symbol the gate imports
at call time) and asserts the gate raises.  A twin that cannot fail is
vacuous — these are the mutation tests for the driver-visible guards.

All runs use sf0.001 (the smallest corpus the twins accept) so the whole
file stays cheap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark import inventory

SF = "/root/testdata/sf0.001"


def test_pq_twin_detects_wrong_ids(spark, monkeypatch):
    import vector_search_question_answer_api_spark.operators.pq as pq

    real = pq.pq_topk

    def corrupted(*a, **k):
        return real(*a, **k).withColumn("doc_id", F.col("doc_id") + 1)

    monkeypatch.setattr(pq, "pq_topk", corrupted)
    with pytest.raises(ValueError, match="pq_topk differs from numpy"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_ivfpq_twin_detects_wrong_ids(spark, monkeypatch):
    import vector_search_question_answer_api_spark.operators.pq as pq

    real = pq.ivfpq_topk

    def corrupted(*a, **k):
        return real(*a, **k).filter(F.col("rank") > 1)  # drop every rank-1 hit

    monkeypatch.setattr(pq, "ivfpq_topk", corrupted)
    with pytest.raises(ValueError, match="ivfpq_topk differs from numpy"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_semdedup_twin_detects_false_pair(spark, monkeypatch):
    import vector_search_question_answer_api_spark.operators.dedup as dedup

    def false_pair(*a, **k):
        return a[0].sparkSession.createDataFrame(
            [(1, 2, 0.99)], "vec_a long, vec_b long, sim double"
        )

    monkeypatch.setattr(
        dedup, "embedding_near_dup_pairs_clustered", false_pair
    )
    with pytest.raises(ValueError, match="false pairs"):
        inventory.queries()["dedup_embedding"](spark, SF).count()


def test_blended_twin_detects_reordering(spark, monkeypatch):
    import vector_search_question_answer_api_spark.operators.keyword_search as ks

    real = ks.blended_rerank

    def corrupted(*a, **k):
        df = real(*a, **k)
        # reverse the rank order: rank r -> k+1-r
        mx = 5 + 1
        return df.withColumn("rank", F.lit(mx) - F.col("rank"))

    monkeypatch.setattr(ks, "blended_rerank", corrupted)
    with pytest.raises(ValueError, match="blended_rerank twin mismatch"):
        inventory.queries()["hybrid_rrf_topk"](spark, SF).count()


def test_hnsw_twin_detects_recall_collapse(spark, monkeypatch):
    import vector_search_question_answer_api_spark.operators.ann_hnsw as ah

    real = ah.hnsw_topk

    def corrupted(*a, **k):
        return real(*a, **k).filter(F.col("doc_id") < 0)  # empty result

    monkeypatch.setattr(ah, "hnsw_topk", corrupted)
    with pytest.raises(ValueError, match="HNSW twin recall"):
        inventory.queries()["knn_topk"](spark, SF).count()


def test_compact_layout_check_detects_overlap(spark, monkeypatch):
    """Corrupt the layout writer so range clustering silently degrades to
    round-robin: the footer-disjointness assert in the e2e gate must
    fire."""
    import vector_search_question_answer_api_spark.sources.compaction as comp

    real = comp.compact_write

    def no_clustering(df, path, **kwargs):
        kwargs.pop("sort_by", None)
        return real(df, path, **kwargs)

    # the gate imports compact_write inside _index_refresh_roundtrip_check
    monkeypatch.setattr(comp, "compact_write", no_clustering)
    with pytest.raises(ValueError, match="overlapping doc_id footer"):
        inventory.queries()["search_pipeline_e2e"](spark, SF).count()


def test_ivfpq_ondisk_twin_detects_wrong_ids(spark, monkeypatch):
    """r6: the on-disk IVFPQ roundtrip twin must fire when the on-disk
    path's ids drift from the in-memory composition."""
    import vector_search_question_answer_api_spark.operators.pq as pq

    real = pq.ivfpq_topk_ondisk

    def corrupted(*a, **k):
        return real(*a, **k).withColumn("doc_id", F.col("doc_id") + 1)

    monkeypatch.setattr(pq, "ivfpq_topk_ondisk", corrupted)
    with pytest.raises(ValueError, match="ivfpq_topk_ondisk differs"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_celled_hnsw_twin_detects_drift(spark, monkeypatch):
    """r6: the cell-routed HNSW twin (cogrouped serving path vs ivf_topk,
    in-gate in ann_ivf_topk) must fire when the composed walk drifts."""
    import vector_search_question_answer_api_spark.operators.ann_hnsw as ah

    real = ah.celled_hnsw_topk_cogrouped

    def corrupted(*a, **k):
        return real(*a, **k).withColumn(
            "distance", F.col("distance") + F.lit(0.5)
        )

    monkeypatch.setattr(ah, "celled_hnsw_topk_cogrouped", corrupted)
    with pytest.raises(ValueError, match="celled_hnsw twin"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_filtered_knn_twin_detects_leaked_row(spark, monkeypatch):
    """r7: the in-gate filtered-search twin must fire when filtered_knn
    emits a row the predicate should have excluded / wrong ids."""
    import vector_search_question_answer_api_spark.operators.search as search

    real = search.filtered_knn

    def corrupted(*a, **k):
        return real(*a, **k).withColumn("doc_id", F.col("doc_id") * 3)

    monkeypatch.setattr(search, "filtered_knn", corrupted)
    with pytest.raises(ValueError, match="filtered_knn"):
        inventory.queries()["knn_topk"](spark, SF).count()


def test_knn_graph_twin_detects_drift(spark, monkeypatch):
    """r7: the in-gate corpus-graph twin must fire when knn_graph's
    neighbor lists drift from exact self-kNN."""
    import vector_search_question_answer_api_spark.operators.ann_hnsw as ah

    real = ah.knn_graph

    def corrupted(*a, **k):
        df = real(*a, **k)
        # swap ranks 1 and 2: same key set, wrong (doc, dist) per key
        return df.withColumn(
            "rank",
            F.when(F.col("rank") == 1, 2)
            .when(F.col("rank") == 2, 1)
            .otherwise(F.col("rank")),
        )

    monkeypatch.setattr(ah, "knn_graph", corrupted)
    with pytest.raises(ValueError, match="knn_graph twin"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_graph_replay_twin_detects_retrieval_drift(spark, monkeypatch):
    """r7: the in-gate graph-retrieval replay twin must fire when the
    graph tier's top-1 drifts from exact retrieval."""
    import vector_search_question_answer_api_spark.operators.ann_hnsw as ah

    real = ah.celled_hnsw_topk_cogrouped

    def corrupted(*a, **k):
        # shift every hit to a different doc: the fold then binds wrong
        # contexts and the replay outputs diverge
        return real(*a, **k).withColumn("doc_id", F.col("doc_id") + 1)

    monkeypatch.setattr(ah, "celled_hnsw_topk_cogrouped", corrupted)
    with pytest.raises(ValueError, match="graph-retrieval replay twin"):
        inventory.queries()["qa_sessions_replay"](spark, SF).count()


def test_managed_refresh_twin_detects_dropped_cells(spark, monkeypatch):
    """r7: the gate's on-disk roundtrip runs through the managed cell
    store with one incremental refresh; a refresh that publishes its
    dirty cells with no replacement rows (manifest entries dropped,
    partitions gone from the read view) must make the gate fire."""
    import vector_search_question_answer_api_spark.operators.pq as pq

    real = pq.refresh_ivfpq_index

    def corrupted(spark_, path, index, delta, *a, **k):
        # empty the delta's cells instead of re-encoding them (the
        # resolved-view fallback path; incremental=False forces it — the
        # r13 incremental derivation never reads `index`, which is
        # exactly why it exists)
        k["incremental"] = False
        return real(spark_, path, index.limit(0), delta, *a, **k)

    monkeypatch.setattr(pq, "refresh_ivfpq_index", corrupted)
    with pytest.raises(ValueError, match="ivfpq_topk_ondisk differs"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_managed_refresh_twin_detects_lost_batch_rows(spark, monkeypatch):
    """r13: the incremental codes derivation (surviving store rows ∪
    batch-encoded rows) must not lose the batch — a refresh that treats
    the upserts as deletions (rows anti-joined away, nothing re-encoded)
    must make the gate fire through the INCREMENTAL path proper."""
    import vector_search_question_answer_api_spark.operators.pq as pq
    from pyspark.sql import functions as F

    real = pq.refresh_ivfpq_index

    def corrupted(spark_, path, index, delta, *a, **k):
        nulled = delta.select(
            "doc_id",
            F.lit(None).cast("array<float>").alias("norm_embedding"),
        )
        return real(spark_, path, index, nulled, *a, **k)

    monkeypatch.setattr(pq, "refresh_ivfpq_index", corrupted)
    with pytest.raises(ValueError, match="ivfpq_topk_ondisk differs"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_sketch_twin_detects_cms_underestimate(spark, monkeypatch):
    """r7: the sketch-profile twin must fire when CMS estimates drop below
    exact counts (the deterministic count-min guarantee)."""
    import vector_search_question_answer_api_spark.operators.sketches as SK

    real = SK.cms_estimate

    def corrupted(*a, **k):
        return real(*a, **k).withColumn(
            "est", (F.col("est") / 2).cast("long")
        )

    monkeypatch.setattr(SK, "cms_estimate", corrupted)
    with pytest.raises(ValueError, match="CMS underestimated"):
        inventory.queries()["text_metrics"](spark, SF).count()


def test_sketch_twin_detects_heavy_hitter_drift(spark, monkeypatch):
    """r7: the twin must fire when the sketch-tier heavy hitters diverge
    from the exact top-k ranking."""
    import vector_search_question_answer_api_spark.operators.sketches as SK

    real = SK.heavy_hitters_sketch

    def corrupted(documents, k=20, **kw):
        return real(documents, k=k, **kw).orderBy(
            F.col("est").asc(), F.col("token").desc()
        )

    monkeypatch.setattr(SK, "heavy_hitters_sketch", corrupted)
    with pytest.raises(ValueError, match="heavy-hitter drift"):
        inventory.queries()["text_metrics"](spark, SF).count()


def test_sketch_twin_detects_histogram_shift(spark, monkeypatch):
    """r7: the twin must fire when histogram quantile estimates leave the
    one-bin-width error bound."""
    import vector_search_question_answer_api_spark.operators.sketches as SK

    real = SK.quantiles_from_histogram

    def corrupted(hist, lo, hi, n_bins, qs):
        out = real(hist, lo, hi, n_bins, qs)
        return {q: v + 10 * (hi - lo) / n_bins for q, v in out.items()}

    monkeypatch.setattr(SK, "quantiles_from_histogram", corrupted)
    with pytest.raises(ValueError, match="histogram quantile out of bound"):
        inventory.queries()["text_metrics"](spark, SF).count()


def test_sketch_twin_detects_broken_merge(spark, monkeypatch):
    """r7: the twin must fire when sketch merging loses linearity (the
    property the streaming profile store depends on)."""
    import vector_search_question_answer_api_spark.operators.sketches as SK

    real = SK.merge_sketches

    def corrupted(parts):
        return real(parts).withColumn("cnt", F.col("cnt") + 1)

    monkeypatch.setattr(SK, "merge_sketches", corrupted)
    with pytest.raises(ValueError, match="merged halves"):
        inventory.queries()["text_metrics"](spark, SF).count()


def test_dup_span_twin_detects_span_drift(spark, monkeypatch):
    """r7: the dup-span twin must fire when the distributed span extraction
    diverges from the brute-force reference."""
    import vector_search_question_answer_api_spark.operators.spans as SPN

    real = SPN.duplicate_spans

    def corrupted(*a, **k):
        return real(*a, **k).withColumn(
            "span_end", F.col("span_end") + F.lit(1)
        )

    monkeypatch.setattr(SPN, "duplicate_spans", corrupted)
    with pytest.raises(ValueError, match="duplicate-span drift"):
        inventory.queries()["dedup_winnow_overlap"](spark, SF).count()


def test_dup_span_twin_detects_strip_accounting(spark, monkeypatch):
    """r7: the twin must fire when strip accounting disagrees with the
    duplication profile."""
    import vector_search_question_answer_api_spark.operators.spans as SPN

    real = SPN.strip_duplicate_spans

    def corrupted(*a, **k):
        return real(*a, **k).withColumn(
            "n_tokens_removed", F.col("n_tokens_removed") + F.lit(1)
        )

    monkeypatch.setattr(SPN, "strip_duplicate_spans", corrupted)
    with pytest.raises(ValueError, match="strip accounting mismatch"):
        inventory.queries()["dedup_winnow_overlap"](spark, SF).count()


def test_dup_span_twin_detects_store_contamination_drift(spark, monkeypatch):
    """r8: the twin must fire when the span-store contamination path
    (batch_spans_against_store) diverges from the one-shot span set."""
    import vector_search_question_answer_api_spark.streaming.span_stream as SPS

    real = SPS.batch_spans_against_store

    def corrupted(*a, **k):
        return real(*a, **k).withColumn(
            "span_start", F.col("span_start") + F.lit(1)
        )

    monkeypatch.setattr(SPS, "batch_spans_against_store", corrupted)
    with pytest.raises(ValueError, match="store-contamination drift"):
        inventory.queries()["dedup_winnow_overlap"](spark, SF).count()


def test_token_budget_twin_detects_sample_drift(spark, monkeypatch):
    """r7: the token-budget twin must fire when the greedy fill diverges
    from the python reference."""
    import vector_search_question_answer_api_spark.operators.pipeline as P

    real = P.token_budget_sample

    def corrupted(*a, **k):
        return real(*a, **k).filter(F.col("mix_rank") != 1)

    monkeypatch.setattr(P, "token_budget_sample", corrupted)
    with pytest.raises(ValueError, match="token-budget twin"):
        inventory.queries()["mixture_sample"](spark, SF).count()


def test_deletion_twin_detects_tie_rule_drop(spark, monkeypatch):
    """r12: the deletion roundtrip twin must fire when the tombstone-first
    tie rule is inverted (a same-(batch, ts) upsert+delete resolving to
    ALIVE is exactly the seeded resolution bug VERDICT r11 #4 names)."""
    import vector_search_question_answer_api_spark.streaming.index_stream as IX

    def corrupted(cols):
        order = []
        if "_batch" in cols:
            order.append(F.col("_batch").desc())
        if "ts" in cols:
            order.append(F.col("ts").desc())
        if "norm_embedding" in cols:
            # inverted: the UPSERT wins the tie
            order.append(F.col("norm_embedding").isNotNull().desc())
        return order or [F.col("doc_id")]

    monkeypatch.setattr(IX, "_latest_order", corrupted)
    with pytest.raises(ValueError, match="tombstone-first tie rule"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_deletion_twin_detects_kept_tombstones(spark, monkeypatch):
    """r12: a resolution that stops dropping tombstoned docs (deleted
    content resurfaces in the serving view) must make the twin raise."""
    import vector_search_question_answer_api_spark.streaming.index_stream as IX

    real = IX._resolve_latest

    def corrupted(log, keep_tombstones=False, keep_meta=False):
        return real(log, keep_tombstones=True, keep_meta=keep_meta)

    monkeypatch.setattr(IX, "_resolve_latest", corrupted)
    with pytest.raises(ValueError, match="deletion roundtrip"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()


def test_bm25_stored_twin_detects_ignored_log(spark, monkeypatch):
    """r12: a lexical-store resolution that ignores the maintenance log
    (serves the stale base through tombstones and revivals) must make the
    bm25_topk gate's stored twin raise at the post-delete stage."""
    import vector_search_question_answer_api_spark.operators.lexical_store as LXS

    real = LXS.postings_store

    def store_without_log(path):
        store = real(path)
        store.log_dirs = lambda sub, up_to_batch=None: []
        return store

    monkeypatch.setattr(LXS, "postings_store", store_without_log)
    with pytest.raises(ValueError, match="tombstone was ignored"):
        inventory.queries()["bm25_topk"](spark, SF).count()


def test_bm25_stored_twin_detects_wrong_scores(spark, monkeypatch):
    """A stored serving path whose scores drift from the one-shot scorer
    (e.g. a corrupted corpus-stats denominator) must raise at stage 1."""
    import vector_search_question_answer_api_spark.operators.lexical_store as LXS

    real = LXS.bm25_topk_stored

    def corrupted(spark_, path, queries, k=5, **kw):
        return real(spark_, path, queries, k=k, **kw).withColumn(
            "score", F.col("score") + 1.0
        )

    monkeypatch.setattr(LXS, "bm25_topk_stored", corrupted)
    with pytest.raises(ValueError, match="stored serving differs"):
        inventory.queries()["bm25_topk"](spark, SF).count()


def test_managed_epoch_twin_detects_ignored_bound(spark, monkeypatch):
    """r13: a cell-store reader that silently IGNORES up_to_batch —
    serving whatever state it holds for any requested epoch, the exact
    mixed-epoch defect the batch stamps exist to prevent — must make the
    ann_ivf_topk gate's managed-store twin raise."""
    import vector_search_question_answer_api_spark.sources.cell_store as CS

    real = CS.open_cell_table

    def corrupted(spark_, path, up_to_batch=None):
        return real(spark_, path)  # the bound dropped on the floor

    monkeypatch.setattr(CS, "open_cell_table", corrupted)
    with pytest.raises(ValueError, match="epoch contract is broken"):
        inventory.queries()["ann_ivf_topk"](spark, SF).count()
