"""The composed ingest pipeline (streaming/ingest_stream): one document
stream maintains the index, both managed ANN artifacts, the profile
sketches, and the span store — and every store equals its one-shot batch
equivalent afterwards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
from vector_search_question_answer_api_spark.operators.pq import (
    codebook_grid,
    ivfpq_topk_ondisk,
    write_ivfpq_index_managed,
)
from vector_search_question_answer_api_spark.sources.tables import load_table
from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

DIM, N_CELLS = 64, 8
SF = "/root/testdata/sf0.001"


def _docs(spark):
    """The sf0.001 documents as a stream source: one ts per doc_id."""
    return load_table(spark, SF, "documents").select(
        "doc_id",
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
        "text",
        "n_chars",
    )


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """Run the composed pipeline over sf0.001 documents split into two
    micro-batches; yield (docs, root)."""
    tmp = tmp_path_factory.mktemp("ingest")
    docs = _docs(spark)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{tmp}/src/b0")
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(f"{tmp}/src/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    cbs = codebook_grid(DIM, 8, 16)
    cents = centroid_grid(DIM, N_CELLS)
    q = IG.maintain_corpus(
        stream,
        str(tmp / "corpus"),
        checkpoint=str(tmp / "ckpt"),
        codebooks=cbs,
        ann_graphs=True,
        centroids=cents,
        dim=DIM,
        n_cells=N_CELLS,
        span_k=8,
        cms_depth=3,
        cms_width=256,
        trigger_once=True,
        graph_radii=True,
    )
    assert q.awaitTermination(300), "ingest stream did not finish"
    return docs, str(tmp / "corpus"), cbs, cents


def test_index_equals_batch_build(spark, ingested):
    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )

    docs, root, _, _ = ingested
    got = IG.read_corpus_index(spark, root).select(
        "doc_id", "norm_embedding"
    )
    want = build_index(docs).select("doc_id", "norm_embedding")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == docs.count()


def test_profile_equals_one_shot_sketch(spark, ingested):
    from vector_search_question_answer_api_spark.operators import sketches as SK

    docs, root, _, _ = ingested
    prof = IG.read_corpus_profile(spark, root)
    toks = SK.token_stream(docs)
    whole = SK.cms_sketch(toks, depth=3, width=256)
    diff = prof["cms"].exceptAll(whole).unionByName(
        whole.exceptAll(prof["cms"])
    )
    assert diff.count() == 0
    hll = SK.hll_estimate(prof["hll"])
    assert hll == SK.hll_estimate(SK.hll_sketch(toks, "token", lgk=12))


def test_spans_equal_one_shot(spark, ingested):
    from vector_search_question_answer_api_spark.operators import spans as SP

    docs, root, _, _ = ingested
    got = {
        (int(r["doc_id"]), int(r["span_start"]), int(r["span_end"]))
        for r in IG.read_corpus_spans(spark, root, k=8).collect()
    }
    want = {
        (int(r["doc_id"]), int(r["span_start"]), int(r["span_end"]))
        for r in SP.duplicate_spans(docs, k=8).collect()
    }
    assert got == want and got


def test_ann_serving_equals_full_rebuild(spark, ingested, tmp_path):
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    docs, root, cbs, cents = ingested
    fin = IG.read_corpus_index(spark, root).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    ).cache()
    qdf = fin.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )

    def code_rows(path):
        df = ivfpq_topk_ondisk(
            spark, qdf, path, fin, cbs, centroids=cents, k=5,
            dim=DIM, n_cells=N_CELLS, nprobe=N_CELLS, refine=8,
        )
        return {
            (int(r["query_id"]), int(r["rank"])): (
                int(r["doc_id"]), round(float(r["distance"]), 9)
            )
            for r in df.collect()
        }

    fresh = str(tmp_path / "fresh_codes")
    write_ivfpq_index_managed(
        fin, fresh, cbs, centroids=cents, dim=DIM, n_cells=N_CELLS
    )
    got = code_rows(f"{root}/codes")
    assert got == code_rows(fresh) and got

    n = fin.count()

    def graph_rows(g):
        df = ann_hnsw.celled_hnsw_topk_cogrouped(
            g, qdf, centroids=cents, k=5, ef=int(n), dim=DIM,
            n_cells=N_CELLS, nprobe=N_CELLS,
        )
        return {
            (int(r["query_id"]), int(r["rank"])): (
                int(r["doc_id"]), round(float(r["distance"]), 9)
            )
            for r in df.collect()
        }

    maintained = graph_rows(
        ann_hnsw.read_celled_hnsw_index(spark, f"{root}/graphs")
    )
    full = graph_rows(
        ann_hnsw.build_celled_hnsw(
            fin, centroids=cents, dim=DIM, n_cells=N_CELLS
        )
    )
    assert maintained == full and maintained
    fin.unpersist()


def test_ingest_maintains_pruning_radii(spark, ingested):
    """r11: ``maintain_corpus(graph_radii=True)`` seeds the pruning
    sidecar at graph-store init and the per-cell refresh keeps it exact —
    after the two-batch ingest (batch 2 refreshed dirty cells), the
    stored radii equal ``cell_radii`` over the resolved corpus, and the
    pruned serving tier equals the unpruned one from the maintained
    store."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    docs, root, cbs, cents = ingested
    fin = IG.read_corpus_index(spark, root).select(
        "doc_id",
        F.col("norm_embedding").cast("array<double>").alias("norm_embedding"),
    ).cache()
    stored = ann_hnsw.read_cell_radii(f"{root}/graphs")
    fresh = ann_hnsw.cell_radii(fin, centroids=cents, dim=DIM)
    assert all(abs(a - b) < 1e-12 for a, b in zip(stored, fresh))

    qdf = fin.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    g = ann_hnsw.read_celled_hnsw_index(spark, f"{root}/graphs")

    def rows(df):
        return {
            (int(r["query_id"]), int(r["rank"])): (
                int(r["doc_id"]), round(float(r["distance"]), 9)
            )
            for r in df.collect()
        }

    pruned = rows(ann_hnsw.celled_hnsw_topk_pruned(
        g, qdf, stored, centroids=cents, k=3, ef=50, dim=DIM,
        n_cells=N_CELLS, nprobe=4,
    ))
    unpruned = rows(ann_hnsw.celled_hnsw_topk_cogrouped(
        g, qdf, centroids=cents, k=3, ef=50, dim=DIM, n_cells=N_CELLS,
        nprobe=4,
    ))
    assert pruned == unpruned and pruned
    fin.unpersist()


def test_replayed_batch_changes_nothing(spark, ingested):
    """Re-running batch 1's step by hand under the same batch id (what a
    checkpoint replay does) leaves every read surface identical."""
    from vector_search_question_answer_api_spark.streaming import (
        span_stream as SPS,
        stats_stream as STS,
    )

    docs, root, cbs, cents = ingested
    half = docs.filter("doc_id % 2 = 1")
    before_spans = {
        tuple(r) for r in IG.read_corpus_spans(spark, root, k=8).collect()
    }
    before_cms = {
        tuple(r) for r in IG.read_corpus_profile(spark, root)["cms"].collect()
    }
    STS.write_profile_batch(
        half, f"{root}/profile", 1, depth=3, width=256
    )
    SPS.append_span_batch(half, f"{root}/spans", 1, k=8)
    assert {
        tuple(r) for r in IG.read_corpus_spans(spark, root, k=8).collect()
    } == before_spans
    assert {
        tuple(r) for r in IG.read_corpus_profile(spark, root)["cms"].collect()
    } == before_cms


def test_incremental_center_matches_corpus_center(spark, ingested):
    """The ingest-maintained vector mean (stats_stream.write_vecmean_batch,
    merged by read_profile_center) equals corpus_center over the resolved
    index on an insert-only stream — the incremental-maintenance claim in
    corpus_center's docstring, made real (and the refresh source for the
    centered-LSH artifact's center at scale)."""
    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
    )
    from vector_search_question_answer_api_spark.streaming import (
        stats_stream as STS,
    )

    docs, root, cbs, cents = ingested
    inc = STS.read_profile_center(spark, f"{root}/profile")
    index = IG.read_corpus_index(spark, root)
    full = corpus_center(index)
    assert len(inc) == len(full) == DIM
    # per-batch partial sums merge in a different order than one
    # corpus-wide avg — equal to float64 round-off, not bit-equal
    assert max(abs(a - b) for a, b in zip(inc, full)) < 1e-12


def test_store_derived_lsh_artifact_serves_replay(spark, ingested, tmp_path):
    """The closing loop of the centered-LSH lifecycle: an artifact derived
    entirely from the maintained profile store (center + ingested count —
    no corpus pass) parameterizes the replay lsh tier and reproduces the
    self-hit retrievals; written through write_to it round-trips as a
    standard manifest."""
    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.operators.sessions import (
        replay_sessions,
    )
    from vector_search_question_answer_api_spark import caching

    docs, root, cbs, cents = ingested
    path = str(tmp_path / "derived_art")
    art = IG.read_corpus_lsh_artifact(spark, root, write_to=path)
    assert art["dim"] == DIM and len(art["center"]) == DIM
    assert ann.read_lsh_artifact(path)["center"] == tuple(art["center"])

    index = IG.read_corpus_index(spark, root).persist()
    qa = (
        docs.limit(5)
        .select(
            F.col("doc_id").alias("event_id"),
            "ts",
            F.lit("s1").alias("session_id"),
            F.col("text").alias("question"),
        )
    )
    with caching.cache_scope():
        rows = {
            r["event_id"]: r
            for r in replay_sessions(
                qa, index, retrieval="lsh", lsh_artifact=art
            ).collect()
        }
    # self-hit: each question IS a corpus doc -> identical vectors share
    # every signature under any center, so retrieval must find it
    hit = [r for r in rows.values() if r["context_doc_id"] is not None]
    assert len(hit) >= 4, rows
    index.unpersist()


@pytest.fixture(scope="module")
def lsh_ingested(spark, tmp_path_factory):
    """maintain_corpus WITH the on-disk LSH signature store (VERDICT r10
    #1) over three micro-batches: initial corpus, then new docs + UPDATES
    of existing doc_ids (rewritten text => new embedding => new
    signatures), then a second update wave.  Yields
    (root, artifact, final_docs)."""
    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )

    tmp = tmp_path_factory.mktemp("lsh_ingest")
    docs = _docs(spark)
    b0 = docs.filter("doc_id < 40")
    b1 = docs.filter("doc_id >= 40 AND doc_id < 60").unionByName(
        docs.filter("doc_id < 8")
        .withColumn("text", F.concat(F.lit("update one "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(10_000_000)))
    )
    b2 = (
        docs.filter("doc_id >= 4 AND doc_id < 12")
        .withColumn("text", F.concat(F.lit("update two "), "text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("ts", F.timestamp_millis(F.lit(20_000_000)))
    )
    for i, b in enumerate((b0, b1, b2)):
        b.coalesce(1).write.parquet(f"{tmp}/src/b{i}")
    # fixed, trained-ahead manifest (like codebooks): centered on the
    # initial corpus, knobs at the defaults
    center = ann.corpus_center(build_index(b0))
    art = {
        "family": ann.LSH_FAMILY,
        "dim": DIM,
        "n_planes": ann.DEFAULT_N_PLANES,
        "n_tables": ann.DEFAULT_N_TABLES,
        "center": center,
    }
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*")
    )
    q = IG.maintain_corpus(
        stream,
        str(tmp / "corpus"),
        checkpoint=str(tmp / "ckpt"),
        dim=DIM,
        n_cells=N_CELLS,
        trigger_once=True,
        lsh_artifact=art,
    )
    assert q.awaitTermination(300), "lsh ingest stream did not finish"
    # the final corpus: 60 docs, ids 0-11 at their latest text version
    final_docs = (
        docs.filter("doc_id >= 12 AND doc_id < 60")
        .unionByName(b1.filter("doc_id < 4"))
        .unionByName(b2)
    )
    return str(tmp / "corpus"), art, final_docs


def test_maintained_lsh_signatures_equal_fresh_rebuild(
    spark, lsh_ingested, tmp_path
):
    """VERDICT r10 #1 done-criterion: after N upsert batches (including
    UPDATED docs whose vectors — hence signatures — moved), the maintained
    store's resolved signature view and its serving relation equal a fresh
    write_lsh_index rebuild over the resolved index, bit-for-bit."""
    from vector_search_question_answer_api_spark.operators import ann

    root, art, final_docs = lsh_ingested
    lsh_path = IG.corpus_lsh_path(root)
    index = IG.read_corpus_index(spark, root).persist()
    assert index.count() == final_docs.count() == 60

    rebuilt = str(tmp_path / "rebuilt")
    ann.write_lsh_index(
        index,
        rebuilt,
        n_planes=art["n_planes"],
        n_tables=art["n_tables"],
        center=art["center"],
    )
    got = {
        (int(r["doc_id"]), r["sig"])
        for r in ann.read_lsh_signatures(spark, lsh_path).collect()
    }
    want = {
        (int(r["doc_id"]), r["sig"])
        for r in ann.read_lsh_signatures(spark, rebuilt).collect()
    }
    assert got == want and len(got) == 60 * art["n_tables"]
    # the updates really moved signatures: batch-2 rows must differ from
    # what the ORIGINAL text of those docs hashed to
    from vector_search_question_answer_api_spark.operators.index_build import (
        build_index,
    )

    orig = build_index(
        load_table(spark, SF, "documents").filter("doc_id < 12")
    )
    orig_sigs = {
        (int(r["doc_id"]), r["sig"])
        for r in ann.signatures_from_artifact(orig, "norm_embedding", art)
        .select("doc_id", F.explode("lsh_sigs").alias("sig"))
        .collect()
    }
    assert orig_sigs - got, "updates did not change any signature"

    # serving equality through the real tier, both join shapes
    q = index.filter(F.col("doc_id") < 6).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").cast("array<double>").alias("qvec"),
    )

    def rel(path, **kw):
        return {
            (r["query_id"], r["doc_id"], round(r["distance"], 9), r["rank"])
            for r in ann.ann_lsh_topk_ondisk(
                spark, q, path, index, k=3, **kw
            ).collect()
        }

    served = rel(lsh_path)
    assert served and served == rel(rebuilt)
    assert served == rel(lsh_path, broadcast_queries=False)
    index.unpersist()


def test_lsh_append_replay_idempotent_and_manifest_guard(
    spark, lsh_ingested
):
    """A checkpoint replay re-runs a batch under the SAME id — the
    batch=<id> overwrite leaves the resolved view identical; an artifact
    that disagrees with the stored manifest refuses to append."""
    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.streaming import (
        index_stream as IX,
    )

    root, art, _ = lsh_ingested
    lsh_path = IG.corpus_lsh_path(root)
    before = {
        (int(r["doc_id"]), r["sig"])
        for r in ann.read_lsh_signatures(spark, lsh_path).collect()
    }
    # replay batch 2 by hand: same rows, same id (what the checkpoint does)
    b2_docs = (
        load_table(spark, SF, "documents")
        .filter("doc_id >= 4 AND doc_id < 12")
        .select(
            "doc_id",
            F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
            F.concat(F.lit("update two "), "text").alias("text"),
        )
    )
    ann.append_lsh_signatures_batch(
        IX.index_stream(b2_docs), lsh_path, 2, art
    )
    after = {
        (int(r["doc_id"]), r["sig"])
        for r in ann.read_lsh_signatures(spark, lsh_path).collect()
    }
    assert after == before
    # conflicting manifest refuses loudly
    bad = dict(art, n_planes=art["n_planes"] + 2)
    with pytest.raises(ValueError, match="disagrees with the manifest"):
        ann.append_lsh_signatures_batch(
            IX.index_stream(b2_docs), lsh_path, 3, bad
        )


def test_write_lsh_index_rebuild_folds_log_and_publishes_manifest_last(
    spark, tmp_path
):
    """ADVICE r10: the manifest is the completeness marker — a store with
    signatures but no manifest refuses reads; a write_lsh_index REBUILD
    clears the maintenance log (it is the compaction) and the resolved
    view becomes the plain base scan again."""
    import os

    from vector_search_question_answer_api_spark.operators import ann

    idx = spark.createDataFrame(
        [
            (i, [1.0 if j == i % 8 else 0.0 for j in range(8)], 0)
            for i in range(10)
        ],
        "doc_id long, norm_embedding array<double>, ts long",
    ).withColumn("ts", F.timestamp_millis(F.col("doc_id")))
    path = str(tmp_path / "store")
    ann.write_lsh_index(idx, path, n_planes=4, n_tables=2)
    art = ann.read_lsh_artifact(path)
    ann.append_lsh_signatures_batch(idx.filter("doc_id < 3"), path, 0, art)
    assert os.path.isdir(os.path.join(path, "signatures_log"))
    # manifest-less store refuses (completeness marker semantics)
    os.remove(os.path.join(path, "_lsh_manifest.json"))
    with pytest.raises(FileNotFoundError):
        ann.read_lsh_artifact(path)
    # rebuild: signatures first, log folded away, manifest published last
    ann.write_lsh_index(idx, path, n_planes=4, n_tables=2)
    assert not os.path.isdir(os.path.join(path, "signatures_log"))
    assert ann.read_lsh_artifact(path)["n_planes"] == 4
    assert ann.read_lsh_signatures(spark, path).count() == 10 * 2


def test_corrected_center_equals_resolved_corpus_under_upserts(
    spark, lsh_ingested
):
    """VERDICT r10 #7: with the superseded-version correction the
    maintained center equals corpus_center over the RESOLVED index even
    under an upsert-heavy soak (a fifth of the corpus re-ingested, some
    twice) — the drift the r10 addendum documented is gone, not merely
    bounded.  Replaying the last batch's vecmean step by hand (same id,
    evidence from the order-independent `_batch <` predicate, AFTER the
    append) leaves the center bit-identical."""
    from vector_search_question_answer_api_spark.operators.ann import (
        corpus_center,
    )
    from vector_search_question_answer_api_spark.streaming import (
        index_stream as IX,
        stats_stream as STS,
    )

    root, art, _ = lsh_ingested
    inc = STS.read_profile_center(spark, f"{root}/profile")
    index = IG.read_corpus_index(spark, root)
    full = corpus_center(index)
    assert len(inc) == len(full) == DIM
    assert max(abs(a - b) for a, b in zip(inc, full)) < 1e-10
    # resolved count rides the same rows (read_corpus_lsh_artifact's n)
    n = (
        spark.read.parquet(f"{root}/profile/vecmean")
        .filter(F.col("component") == 0)
        .agg(F.sum("n"))
        .first()[0]
    )
    assert int(n) == index.count() == 60

    # replay: recompute batch 2's vecmean file post-append — identical
    b2_docs = (
        load_table(spark, SF, "documents")
        .filter("doc_id >= 4 AND doc_id < 12")
        .select(
            "doc_id",
            F.timestamp_millis(F.lit(20_000_000)).alias("ts"),
            F.concat(F.lit("update two "), "text").alias("text"),
        )
    )
    indexed = IX.index_stream(b2_docs)
    prev = IX.read_index_before_batch(spark, f"{root}/index", 2)
    superseded = prev.join(
        F.broadcast(indexed.select("doc_id").distinct()), "doc_id", "left_semi"
    ).select("doc_id", "norm_embedding")
    STS.write_vecmean_batch(
        indexed, f"{root}/profile", 2, superseded=superseded
    )
    assert STS.read_profile_center(spark, f"{root}/profile") == inc


def test_graph_radii_flag_seeds_existing_store(spark, tmp_path):
    """Review fix (r11): a store bootstrapped WITHOUT graph_radii gets its
    pruning sidecar seeded when the stream restarts WITH the flag — not a
    silent no-op (the refresh's maintenance is presence-gated)."""
    from vector_search_question_answer_api_spark.operators import ann_hnsw

    tmp = str(tmp_path)
    docs = _docs(spark)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{tmp}/src/b0")
    cents = centroid_grid(DIM, N_CELLS)

    def run():
        q = IG.maintain_corpus(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src/*"),
            f"{tmp}/corpus",
            checkpoint=f"{tmp}/ckpt",
            ann_graphs=True,
            centroids=cents,
            dim=DIM,
            n_cells=N_CELLS,
            trigger_once=True,
            graph_radii=True,
        )
        assert q.awaitTermination(300)

    # bootstrap WITHOUT the flag
    q0 = IG.maintain_corpus(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src/*"),
        f"{tmp}/corpus",
        checkpoint=f"{tmp}/ckpt",
        ann_graphs=True,
        centroids=cents,
        dim=DIM,
        n_cells=N_CELLS,
        trigger_once=True,
    )
    assert q0.awaitTermination(300)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        ann_hnsw.read_cell_radii(f"{tmp}/corpus/graphs")

    # restart WITH the flag over a second batch: sidecar appears, exact
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(f"{tmp}/src/b1")
    run()
    fin = IG.read_corpus_index(spark, f"{tmp}/corpus")
    stored = ann_hnsw.read_cell_radii(f"{tmp}/corpus/graphs")
    fresh = ann_hnsw.cell_radii(fin, centroids=cents, dim=DIM)
    assert all(abs(a - b) < 1e-9 for a, b in zip(stored, fresh))


def test_fanout_stage_failure_leaves_no_commit_marker(
    spark, tmp_path, monkeypatch
):
    """A failure in the per-batch fan-out fails the batch before its
    commit marker: in each pool-thread stage that reads the embedded
    batch (the vector-mean profile write and the LSH append), in a
    text-side pool stage (the span append) and in the handler-thread
    chain (index-log append plus ANN refresh).  The crashed batch leaves
    no marker and no committed epoch, and an unpatched restart on the
    same checkpoint replays it to the stores of an uncrashed run."""
    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.streaming import (
        ann_maintain,
        span_stream,
        stats_stream,
    )

    docs = _docs(spark).filter("doc_id < 24")
    docs.coalesce(1).write.parquet(f"{tmp_path}/src/b0")
    art = {"family": ann.LSH_FAMILY, "dim": DIM, "center": None,
           "n_planes": ann.DEFAULT_N_PLANES, "n_tables": ann.DEFAULT_N_TABLES}

    def run(name):
        return IG.maintain_corpus(
            spark.readStream.schema(docs.schema).parquet(f"{tmp_path}/src/*"),
            f"{tmp_path}/{name}/corpus",
            checkpoint=f"{tmp_path}/{name}/ckpt",
            dim=DIM,
            n_cells=N_CELLS,
            trigger_once=True,
            lsh_artifact=art,
        )

    def stores(root):
        index = IG.read_corpus_index(spark, root).collect()
        sigs = ann.read_lsh_signatures(spark, IG.corpus_lsh_path(root))
        return (
            {(r["doc_id"], tuple(r["norm_embedding"])) for r in index},
            {(r["doc_id"], r["sig"]) for r in sigs.collect()},
        )

    assert run("clean").awaitTermination(300)
    want = stores(f"{tmp_path}/clean/corpus")
    assert len(want[0]) == 24 and want[1]

    def boom(*args, **kwargs):
        raise RuntimeError("injected stage failure")

    for name, module, attr in (
        ("vecmean_stage", stats_stream, "write_vecmean_batch"),
        ("lsh_stage", ann, "append_lsh_signatures_batch"),
        ("span_stage", span_stream, "append_span_batch"),
        ("ann_chain", ann_maintain, "refresh_search_artifacts_batch"),
    ):
        root = f"{tmp_path}/{name}/corpus"
        with monkeypatch.context() as mp:
            mp.setattr(module, attr, boom)
            with pytest.raises(Exception, match="injected stage failure"):
                run(name).awaitTermination(300)
        assert not os.path.exists(f"{root}/commits/batch-0.json"), name
        assert IG.corpus_committed_epoch(root) is None, name
        assert run(name).awaitTermination(300), name
        assert IG.corpus_committed_epoch(root) == 0, name
        assert stores(root) == want, name
