"""vector_search_question_answer_api_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference vector-search QA API
(``neirinzaralwin/vector-search-question-answer-api``), re-expressed Spark-first.

The engine is a library of composable DataFrame transformations plus a
pluggable embedder UDF seam and a deterministic stub answer generator
(``operators/qa``) — not a web server.  Parity targets
are catalogued in SURVEY.md §2; every operator cites the reference file:line
it re-expresses.
"""

from vector_search_question_answer_api_spark.config import EngineConfig
from vector_search_question_answer_api_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark"]
