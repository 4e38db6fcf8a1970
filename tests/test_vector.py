"""V6/V7 vector function tests vs numpy, plus property-style checks
(SURVEY.md §5.1/5.6)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V

VECS = [
    [1.0, 0.0, 0.0],
    [0.0, 1.0, 0.0],
    [1.0, 1.0, 0.0],
    [-1.0, 0.5, 2.0],
    [0.0, 0.0, 0.0],  # zero vector edge case
    [1e-8, -1e-8, 1e-8],
]


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        (i, j, a, b)
        for i, a in enumerate(VECS)
        for j, b in enumerate(VECS)
    ]
    return spark.createDataFrame(
        rows, "i long, j long, a array<double>, b array<double>"
    )


def np_cos(a, b):
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))


def test_normalize_unit_norm(spark):
    df = spark.createDataFrame([(v,) for v in VECS], "v array<double>")
    got = df.select(V.l2_norm(V.l2_normalize(F.col("v"))).alias("n")).collect()
    for r, v in zip(got, VECS):
        if all(x == 0 for x in v):
            assert r["n"] == 0.0
        else:
            assert abs(r["n"] - 1.0) < 1e-12


def test_cosine_matches_numpy(vec_df):
    # the engine's cosine: dot of L2-normalized vectors (0 for a zero vector)
    got = vec_df.select(
        "i",
        "j",
        V.dot(V.l2_normalize(F.col("a")), V.l2_normalize(F.col("b"))).alias("sim"),
    ).collect()
    for r in got:
        expected = np_cos(np.array(VECS[r["i"]]), np.array(VECS[r["j"]]))
        assert abs(r["sim"] - expected) < 1e-12


def test_normalize_then_dot_equals_cosine(vec_df):
    # normalize-then-dot equals dot / (|a| |b|) built from the same columns
    a, b = F.col("a"), F.col("b")
    na, nb = V.l2_norm(a), V.l2_norm(b)
    got = vec_df.select(
        V.dot(V.l2_normalize(a), V.l2_normalize(b)).alias("d"),
        F.when((na > 0) & (nb > 0), V.dot(a, b) / (na * nb))
        .otherwise(F.lit(0.0))
        .alias("s"),
    ).collect()
    for r in got:
        assert abs(r["d"] - r["s"]) < 1e-12


def test_l2_normalize_hoisted_bit_identical_to_lambda_form(spark):
    """r16 optimization pin: the hoisted-norm zip_with form must reproduce
    the r15 transform-with-captured-norm form BIT-for-bit (the norm is the
    same double, the per-element division the same op) — including the
    zero-vector, null and empty edge cases."""
    rows = [
        (0, [1.5, -2.25, 3.0, 0.125]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, None),
        (3, []),
        (4, [1e-30, -1e30, 7.7, 0.3333333333333333]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")

    def r15_form(a):
        n = V.l2_norm(a)
        return F.when(
            n == 0.0, F.transform(a, lambda x: x.cast("double") * 0.0)
        ).otherwise(F.transform(a, lambda x: x.cast("double") / n))

    got = df.select(
        "id",
        V.l2_normalize(F.col("v")).alias("new"),
        r15_form(F.col("v")).alias("old"),
    ).collect()
    for r in got:
        assert r["new"] == r["old"], r["id"]
