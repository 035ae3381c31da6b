"""Distance kernel semantics vs internal/index/distance.go:5-41
(incl. edge cases mirroring distance_test.go:8-266)."""

import math

import pytest
from pyspark.sql import functions as F

from oasisdb_spark.functions.distance import (
    cosine_distance,
    dot,
    hamming,
    inner_product_distance,
    l2_squared,
    distance_expr,
)


def _eval(spark, a, b, expr_fn):
    df = spark.createDataFrame([(a, b)], "a ARRAY<FLOAT>, b ARRAY<FLOAT>")
    return df.select(expr_fn("a", "b").alias("d")).first()["d"]


def test_l2_is_squared(spark):
    # (1-4)^2 + (2-6)^2 = 9 + 16 = 25, NO sqrt (distance.go:33-39)
    assert _eval(spark, [1.0, 2.0], [4.0, 6.0], l2_squared) == 25.0


def test_ip_is_negative_dot(spark):
    # pure-Go semantics: -dot (distance.go:7-13), not hnswlib's 1-dot
    assert _eval(spark, [1.0, 2.0], [3.0, 4.0], inner_product_distance) == -11.0
    assert _eval(spark, [1.0, 2.0], [3.0, 4.0], dot) == 11.0


def test_cosine_identical_is_zero(spark):
    d = _eval(spark, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0], cosine_distance)
    assert abs(d) < 1e-12


def test_cosine_orthogonal_is_one(spark):
    assert _eval(spark, [1.0, 0.0], [0.0, 1.0], cosine_distance) == pytest.approx(1.0)


def test_cosine_opposite_is_two(spark):
    assert _eval(spark, [1.0, 0.0], [-1.0, 0.0], cosine_distance) == pytest.approx(2.0)


def test_cosine_zero_norm_guard(spark):
    # zero-vector → 1.0, distance.go:14-24
    assert _eval(spark, [0.0, 0.0], [1.0, 2.0], cosine_distance) == 1.0
    assert _eval(spark, [1.0, 2.0], [0.0, 0.0], cosine_distance) == 1.0


def test_hamming(spark):
    assert _eval(spark, [1.0, 2.0, 3.0], [1.0, 9.0, 4.0], hamming) == 2.0
    assert _eval(spark, [1.0, 2.0], [1.0, 2.0], hamming) == 0.0


def test_dispatch_unknown_space():
    with pytest.raises(ValueError):
        distance_expr("chebyshev", "a", "b")


def test_l2_matches_python_float64(spark, embeddings):
    rows = embeddings.limit(2).collect()
    a, b = rows[0]["embedding"], rows[1]["embedding"]
    expected = sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))
    df = spark.createDataFrame([(a, b)], "a ARRAY<FLOAT>, b ARRAY<FLOAT>")
    got = df.select(l2_squared("a", "b").alias("d")).first()["d"]
    assert math.isclose(got, expected, rel_tol=1e-12)
