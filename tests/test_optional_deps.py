"""Optional-dependency smoke tests (VERDICT r1 next-round #8).

The sentence-transformers embedder seam is gated on a package this
engine does not ship.  Its test runs the REAL path whenever the package is
importable and skips cleanly otherwise; the gating behavior itself
(NotImplementedError with a working default-path pointer) is asserted
whenever the package is absent.  The partitioned-HNSW tier needs no
optional package (``NumpyHNSW``), so its real-path smoke runs everywhere,
as does the Mongo source seam's gate.
"""

from __future__ import annotations

import importlib.util

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.ann_hnsw import (
    build_partitioned_hnsw,
    hnsw_topk,
)
from vector_search_question_answer_api_spark.operators.embed import (
    SentenceTransformerEmbedder,
)
from vector_search_question_answer_api_spark.sources.tables import load_table

_HAS_ST = importlib.util.find_spec("sentence_transformers") is not None


@pytest.mark.skipif(not _HAS_ST, reason="sentence-transformers not installed")
def test_sentence_transformer_embedder_real_path(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(8)
    emb = SentenceTransformerEmbedder()
    out = docs.select("doc_id", emb(F.col("text")).alias("e")).collect()
    assert len(out) == 8
    dims = {len(r["e"]) for r in out}
    assert len(dims) == 1 and dims.pop() > 0


@pytest.mark.skipif(_HAS_ST, reason="sentence-transformers IS installed")
def test_sentence_transformer_embedder_gated(spark, sf_dir):
    with pytest.raises(NotImplementedError, match="HashingEmbedder"):
        SentenceTransformerEmbedder().udf()


def test_partitioned_hnsw_real_path(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    index = e.select(
        F.col("vec_id").alias("doc_id"),
        V.l2_normalize(F.col("embedding")).cast("array<float>").alias(
            "norm_embedding"
        ),
    )
    graphs = build_partitioned_hnsw(index, dim=64)
    queries = index.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").cast("array<double>").alias("qvec"),
    )
    res = hnsw_topk(spark, graphs, queries, k=3).collect()
    by_q = {r["query_id"]: r for r in res if r["rank"] == 1}
    # self-retrieval: rank-1 hit is the query's own vector
    for qid, row in by_q.items():
        assert row["doc_id"] == qid


def test_mongo_connector_gated(spark):
    """The Mongo source seam raises its documented NotImplementedError when
    the connector jar is absent (this container), pointing at the parquet
    default path."""
    from vector_search_question_answer_api_spark.sources.mongo import (
        read_documents_mongo,
    )

    with pytest.raises(NotImplementedError, match="load_table"):
        read_documents_mongo(spark, "mongodb://localhost:27017")
