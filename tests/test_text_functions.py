"""F1-F11 golden tests — semantics lifted from the reference's
preprocess_description (services/index_service.py:14-47) and controllers,
verified against a Python re-implementation of the Python-`re` behavior.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import text as TXT


def py_preprocess(text: str | None) -> str:
    """Line-for-line Python-re mirror of the reference's intent."""
    if not isinstance(text, str):
        text = ""
    t = text.lower()
    rules = {
        r"thc:?\s*(\d+\.?\d*)%?": r"thc \1%",
        r"cbd:?\s*(\d+\.?\d*)%?": r"cbd \1%",
        r"hybrid[ -]?dominant": "hybrid",
        r"indica[ -]?dominant": "indica",
        r"sativa[ -]?dominant": "sativa",
    }
    for pat, repl in rules.items():
        t = re.sub(pat, repl, t)
    t = re.sub(r"[^\w\s%]", " ", t)
    return " ".join(t.split())


GOLDEN_INPUTS = [
    "THC: 22.5% strong Hybrid-Dominant strain!",
    "thc22 and CBD: 0.5 mix",
    "Indica dominant; sativa-dominant?? mixed",
    "  runs   of\twhitespace\n everywhere  ",
    "keep 100% of % signs, drop #hash & (parens)",
    "Ünïcode wörds naïve café",  # Python \w is Unicode-aware
    "",
    None,
    "no-op plain text",
    "THC:18%CBD:2%",
    "a" * 600,
]


def test_preprocess_matches_python_re(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOLDEN_INPUTS)], "id long, text string"
    )
    got = {
        r["id"]: r["out"]
        for r in df.select(
            "id", TXT.preprocess_text(F.col("text")).alias("out")
        ).collect()
    }
    for i, t in enumerate(GOLDEN_INPUTS):
        assert got[i] == py_preprocess(t), f"input {t!r}"


def test_preprocess_composition_matches_python(spark):
    """The reference pipeline is NOT idempotent (strip-specials can expose
    new canon-rule matches, e.g. 'thc 22.5%' -> 'thc 22 5%' -> 'thc 22% 5%').
    We assert fidelity under composition instead: Spark(f(f(x))) == Py(f(f(x)))."""
    rows = [(i, t) for i, t in enumerate(GOLDEN_INPUTS) if t]
    df = spark.createDataFrame(rows, "id long, text string")
    twice = TXT.preprocess_text(TXT.preprocess_text(F.col("text")))
    got = {r["id"]: r["out"] for r in df.select("id", twice.alias("out")).collect()}
    for i, t in rows:
        assert got[i] == py_preprocess(py_preprocess(t)), f"input {t!r}"


def test_truncate_ellipsis(spark):
    df = spark.createDataFrame(
        [("x" * 100,), ("y" * 101,), ("short",)], "text string"
    )
    out = [r[0] for r in df.select(TXT.truncate_ellipsis(F.col("text"))).collect()]
    assert out[0] == "x" * 100  # exactly 100: not truncated (strict >)
    assert out[1] == "y" * 100 + "..."
    assert out[2] == "short"


def test_valid_query_bounds(spark):
    rows = [("ok",), ("",), ("   ",), ("q" * 500,), ("q" * 501,), (None,)]
    df = spark.createDataFrame(rows, "q string")
    out = [
        r[0]
        for r in df.select(TXT.valid_query(F.col("q")).alias("v")).collect()
    ]
    assert out == [True, False, False, True, False, None]


def test_clamp_k(spark):
    df = spark.createDataFrame(
        [(None,), (1,), (3,), (20,), (21,), (100,)], "k int"
    )
    out = [r[0] for r in df.select(TXT.clamp_k(F.col("k")).alias("k")).collect()]
    assert out == [3, 1, 3, 20, 20, 20]



def test_stub_answer_forms_agree(spark):
    """The replay fold answers with ``stub_answer_py`` and the stateless
    QA gate with the Column ``stub_answer``: the same string for a missing,
    a short and a >60-char context, and a short and a >60-char question."""
    from vector_search_question_answer_api_spark.operators.qa import (
        stub_answer,
        stub_answer_py,
    )

    contexts = [None, "doc:7", "a long retrieved product context " * 3]
    questions = ["which strain helps sleep?", "and what about daytime use " * 4]
    df = spark.createDataFrame(
        [(c, q) for c in contexts for q in questions],
        "context string, question string",
    )
    got = df.select(
        "context", "question",
        stub_answer(F.col("context"), F.col("question")).alias("answer"),
    ).collect()
    assert len(got) == 6
    for r in got:
        assert r["answer"] == stub_answer_py(r["context"], r["question"]), r

@pytest.mark.parametrize(
    "text,expected",
    [
        ("THC: 22.5% x", "thc 22.5% x"),
        ("thc 15 pure", "thc 15% pure"),
        ("cbd:3.0% y", "cbd 3.0% y"),
        ("hybrid dominant", "hybrid"),  # note: space form not in rules; stays
    ],
)
def test_canonicalize_cases(spark, text, expected):
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(
        TXT.collapse_whitespace(TXT.canonicalize(F.lower(F.col("t"))))
    ).collect()[0][0]
    # mirror via python
    assert got == py_preprocess(text) or got == expected
