"""QA answer generation — the U2 generator seam of the /qa pipeline
(SURVEY.md §3.2 steps f-i).

Reference: prompt template at services/qa_service.py:84-94, history fold at
:76-81, generic fallback context at :67-73, generation via Ollama HTTP POST
at :99-111 (temperature 0.7, top_p 0.9, max_tokens 300).

The engine answers with the deterministic stub the SURVEY.md §5 test double
describes: the answer is a pure function of (context, question), in two
forms that must agree (pinned in tests/test_text_functions.py):

- :func:`stub_answer` — a native Catalyst expression, used by the stateless
  ``qa_prompt_pipeline`` gate next to ``functions/text.assemble_prompt``;
- :func:`stub_answer_py` — the same template in Python, used inside the
  stateful session fold (``operators/sessions.replay_sessions``).

A real model slots in where these are called: batch HTTP POSTs per Arrow
batch inside ``mapInPandas``, one session per partition batch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.config import DEFAULT_CONFIG


def stub_answer_py(context: str | None, question: str) -> str:
    """Deterministic template answer (pure Python form, used inside the
    session fold)."""
    ctx = context if context else DEFAULT_CONFIG.fallback_context
    return f"Answer about [{ctx[:60]}]: {question[:60]}"


def stub_answer(context: Column, question: Column) -> Column:
    """Deterministic template answer as a Catalyst expression, so the
    stateless QA path stays JVM-side end to end."""
    ctx = F.coalesce(context, F.lit(DEFAULT_CONFIG.fallback_context))
    return F.format_string(
        "Answer about [%s]: %s",
        F.substring(ctx, 1, 60),
        F.substring(question, 1, 60),
    )
