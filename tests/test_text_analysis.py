"""Text analytics operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators.text_analysis import (
    text_metrics,
)


@pytest.fixture(scope="module")
def synth_docs(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog in a field", "en", "s", 48),
        (1, "el perro y la casa de un amigo que es grande", "es", "s", 44),
        (2, "der hund und die katze ist ein freund von uns", "de", "s", 45),
        (3, "xyzzy plugh qwerty", "zz", "s", 18),
        (4, "", "en", "s", 0),
        (5, None, "en", "s", 0),
        (6, "word " * 20, "en", "s", 100),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_token_stats(synth_docs):
    got = {r["doc_id"]: r for r in text_metrics(synth_docs).collect()}
    assert got[0]["n_tokens"] == 11
    assert got[0]["n_uniq_tokens"] == 10  # 'the' twice
    assert got[4]["n_tokens"] == 0
    assert got[5]["n_tokens"] == 0
    assert got[5]["n_chars"] == 0
    assert got[6]["n_tokens"] == 20
    assert got[6]["n_uniq_tokens"] == 1
    assert got[0]["est_bpe_tokens"] == 11


def test_lang_id(synth_docs):
    got = {
        r["doc_id"]: r["guessed_lang"] for r in text_metrics(synth_docs).collect()
    }
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "de"
    assert got[3] == "unknown"
    assert got[4] == "unknown"


def test_quality_scores(synth_docs):
    got = {r["doc_id"]: r for r in text_metrics(synth_docs).collect()}
    for r in got.values():
        assert 0.0 <= r["quality_score"] <= 1.0
    # well-formed english text scores high
    assert got[0]["quality_score"] >= 0.75
    # empty text scores at the floor
    assert got[4]["quality_score"] == 0.0
    # 20x repeated word: low uniq_ratio drags the score
    assert got[6]["uniq_ratio"] == 0.05


def _winnow_py(text: str, k: int = 8, w: int = 4) -> tuple[int, list[int]]:
    """Pure-python reference of the winnowing fingerprint."""
    import hashlib
    import re

    # mirror functions/text.preprocess_text via the operator's own canon
    grams = [text[i : i + k] for i in range(max(len(text) - k + 1, 0))]
    hs = [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) for g in grams
    ]
    if len(hs) >= w:
        sel = sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})
    elif hs:
        sel = [min(hs)]
    else:
        sel = []
    return len(hs), sel


def test_winnowing_matches_python_reference(spark, sf_dir):
    from vector_search_question_answer_api_spark.functions import text as TXT
    from vector_search_question_answer_api_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )
    from vector_search_question_answer_api_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = {
        r["doc_id"]: (r["n_grams"], list(r["fp"]))
        for r in winnowing_fingerprints(docs).collect()
    }
    canon = {
        r["doc_id"]: r["pt"]
        for r in docs.select(
            "doc_id", TXT.preprocess_text(F.col("text")).alias("pt")
        ).collect()
    }
    for did, pt in canon.items():
        assert got[did] == _winnow_py(pt or ""), f"doc {did}"


def test_winnowing_shared_substring_guarantee(spark):
    """Docs sharing a substring of length >= k + w - 1 (= 11) must share a
    selected fingerprint (the winnowing guarantee)."""
    from vector_search_question_answer_api_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )

    shared = "identical fragment here"
    docs = spark.createDataFrame(
        [
            (0, f"left padding text then {shared} and tail one"),
            (1, f"other prefix material {shared} closing words two"),
            (2, "completely different content with nothing in common at all"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: set(r["fp"]) for r in winnowing_fingerprints(docs).collect()}
    assert fps[0] & fps[1], "shared substring produced no shared fingerprint"


def test_winnowing_edge_cases(spark):
    from vector_search_question_answer_api_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "tiny"), (2, "ninechars"), (3, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in winnowing_fingerprints(docs).collect()}
    assert got[0]["n_grams"] == 0 and got[0]["fp"] == []
    assert got[3]["n_grams"] == 0 and got[3]["fp"] == []
    # "tiny" < 8 chars -> no grams
    assert got[1]["n_grams"] == 0
    # "ninechars" -> 2 grams (<w) -> single global-min selection
    assert got[2]["n_grams"] == 2 and got[2]["n_selected"] == 1


def test_repetition_scores_flags_degenerate_text(spark):
    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam", "en"),
            (1, "every token in this sentence differs from the others fully", "en"),
            (2, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r for r in text_metrics(docs).collect()}
    assert got[0]["top_token_frac"] == 1.0
    assert got[0]["top_bigram_frac"] == 1.0
    assert got[0]["uniq_bigram_frac"] < 0.5
    assert got[1]["top_token_frac"] < 0.2
    assert got[1]["uniq_bigram_frac"] == 1.0
    assert got[2]["n_tokens"] == 0 and got[2]["top_token_frac"] == 0.0


def test_top_frac_equals_counter_reference(spark):
    """The sort + run-length mode count equals a ``Counter`` over the same
    array — ties, empty and one-element arrays included."""
    import random
    from collections import Counter

    from vector_search_question_answer_api_spark.operators.text_analysis import (
        _top_frac,
    )

    rng = random.Random(11)
    arrays = [[], ["a"], ["b", "a"], ["a", "b", "a", "b"], ["z", "y", "z"]] + [
        [rng.choice("abcde") for _ in range(rng.randint(0, 30))] for _ in range(300)
    ]
    df = spark.createDataFrame(list(enumerate(arrays)), "id long, xs array<string>")
    got = {
        r["id"]: r["f"]
        for r in df.select("id", _top_frac("xs").alias("f")).collect()
    }
    for i, xs in enumerate(arrays):
        want = max(Counter(xs).values()) / len(xs) if xs else 0.0
        assert got[i] == want, (xs, got[i], want)
