"""The index build / refresh pipeline (SURVEY.md §3.3, V3/V7/V8/S4/S5).

Reference: startup ``init_index_service`` scans the corpus, preprocesses,
batch-embeds, and builds an HNSW graph persisted to disk
(services/index_service.py:49-96); its refresh endpoint is a full rebuild
(services/index_service.py:112-115) — here ``build_index`` + ``save_index``,
or the incremental ``streaming/ingest_stream.maintain_corpus``.

Spark-first re-expression: the "index" is DATA, not a graph — a parquet
table of L2-normalized embeddings keyed by ``doc_id``, overwritten on
refresh.  Search then reduces to a dot product (cosine ≡ dot on normalized
vectors).  The reference's positional label->id mapping
(services/index_service.py:84, 106-110) is eliminated: the index row carries
``doc_id`` directly, so every downstream lookup is an equi-join — no
``row_number`` global-ordering bottleneck, no O(n) scans.

Scale notes: embedding runs data-parallel (Arrow-batched pandas_udf);
everything else is narrow (no shuffle at all in the build — map-only plan);
the write partitions by hash of doc_id implicitly via input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import text as TXT
from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators.embed import HashingEmbedder


def build_index(
    documents: DataFrame,
    embedder=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """documents -> (vec_id, doc_id, norm_embedding, norm).

    Pipeline: preprocess (F1-F4, native exprs) -> embed (U1 pandas_udf) ->
    L2-normalize (V7).  ``vec_id`` == ``doc_id`` (explicit key; see module
    docstring).  Map-only: zero shuffles.
    """
    embedder = embedder or HashingEmbedder()
    preprocessed = documents.select(
        F.col(id_col).alias("doc_id"),
        TXT.preprocess_text(F.col(text_col)).alias("proc_text"),
    )
    embedded = preprocessed.select(
        "doc_id", embedder(F.col("proc_text")).alias("embedding")
    )
    return embedded.select(
        F.col("doc_id").alias("vec_id"),
        "doc_id",
        V.l2_normalize(F.col("embedding"))
        .cast("array<float>")
        .alias("norm_embedding"),
        V.l2_norm(F.col("embedding")).alias("norm"),
    )


def save_index(index: DataFrame, path: str) -> None:
    """S5: persist the index artifact (reference
    services/index_service.py:95 ``save_index``) — full-overwrite snapshot,
    matching the reference's rebuild-replace semantics
    (services/index_service.py:112-115)."""
    index.write.mode("overwrite").parquet(path)


def load_index(spark: SparkSession, path: str) -> DataFrame:
    """S4: load the persisted index (reference services/index_service.py:69-72)."""
    return spark.read.parquet(path)


def is_fresh(index: DataFrame, documents: DataFrame) -> bool:
    """V8: count-equality freshness check (reference
    services/index_service.py:75-77 rebuilds iff
    ``index.get_current_count() != len(products_data)``)."""
    return index.count() == documents.count()
