"""Result sinks — the reference's JSON HTTP responses as engine edges
(S9/S10, SURVEY.md §2.1; F11 ISO timestamps).

Reference: ``jsonify({query, k, results: [{id, description, score}]})`` for
/search (controllers/search_controller.py:30-44) and
``jsonify({question, answer, product_context, timestamp})`` for /qa
(controllers/qa_controller.py:41-61).  The engine keeps results as
DataFrames end-to-end; these sinks render the SAME response shapes as JSON
string columns with native expressions (``to_json`` over structs — JVM-side,
no driver round trip), so an API layer can stream them out.

Everything here is deterministic given its inputs: timestamps come from the
data (event time), never from the wall clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def search_response_json(results: DataFrame, k: int) -> DataFrame:
    """(query_id, response): one reference-shaped /search JSON per query.

    ``results`` is the kNN output joined with documents: (query_id, doc_id,
    text, score, rank).  Result items ride ascending by rank inside the
    JSON array, exactly like the reference's distance-ordered list."""
    per_q = (
        results.select(
            "query_id",
            F.struct("rank", "doc_id", "text", "score").alias("s"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list("s")).alias("items"))
    )
    return per_q.select(
        "query_id",
        F.to_json(
            F.struct(
                F.col("query_id").alias("query"),
                F.lit(k).alias("k"),
                F.transform(
                    F.col("items"),
                    lambda s: F.struct(
                        s["doc_id"].alias("id"),
                        s["text"].alias("description"),
                        s["score"].alias("score"),
                    ),
                ).alias("results"),
            )
        ).alias("response"),
    )


def qa_response_json(replay: DataFrame) -> DataFrame:
    """(session_id, event_id, response): reference-shaped /qa JSON per
    answered question.  ``timestamp`` is the EVENT time formatted ISO-8601
    (reference utils/time_utils ``datetime.now().isoformat()`` — F11; here
    event time, so replays are deterministic)."""
    return replay.select(
        "session_id",
        "event_id",
        F.to_json(
            F.struct(
                F.col("question"),
                F.col("answer"),
                F.coalesce(
                    F.col("context_doc_id").cast("string"), F.lit("none")
                ).alias("product_context"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "timestamp"
                ),
            )
        ).alias("response"),
    )
