"""JSON response sinks (S9/F11): reference response shapes, deterministic
timestamps."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators.index_build import build_index
from vector_search_question_answer_api_spark.operators.search import (
    attach_documents,
    knn_exact_expr,
)
from vector_search_question_answer_api_spark.operators.sessions import replay_sessions
from vector_search_question_answer_api_spark.sources.sinks import (
    qa_response_json,
    search_response_json,
)
from vector_search_question_answer_api_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def search_results(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    index = build_index(docs).cache()
    q = index.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").cast("array<double>").alias("qvec"),
    )
    return attach_documents(knn_exact_expr(q, index, k=3), docs)


def test_search_response_shape(search_results):
    out = {r["query_id"]: r["response"] for r in search_response_json(search_results, 3).collect()}
    assert set(out) == {0, 1, 2}
    for qid, raw in out.items():
        body = json.loads(raw)
        assert set(body) == {"query", "k", "results"}
        assert body["k"] == 3
        assert len(body["results"]) == 3
        assert set(body["results"][0]) == {"id", "description", "score"}
        # ordered by rank: first item is the self-hit with score ~1
        assert body["results"][0]["id"] == qid
        assert body["results"][0]["score"] == pytest.approx(1.0, abs=1e-6)
        scores = [r["score"] for r in body["results"]]
        assert scores == sorted(scores, reverse=True)


def test_qa_response_shape_and_deterministic_timestamp(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    index = build_index(docs).cache()
    t0 = datetime(2024, 1, 1, 12, 0, 0, 123456)
    doc0_text = docs.filter(F.col("doc_id") == 0).first()["text"]
    qa = spark.createDataFrame(
        [(0, t0, "s1", doc0_text)],
        "event_id long, ts timestamp, session_id string, question string",
    )
    out = qa_response_json(replay_sessions(qa, index)).collect()
    assert len(out) == 1
    body = json.loads(out[0]["response"])
    assert set(body) == {"question", "answer", "product_context", "timestamp"}
    assert body["timestamp"] == "2024-01-01T12:00:00.123456"
    assert body["product_context"] == "0"

