"""Block-matrix brute-force kNN must agree with the expression-based
knn_flat (same ids/ranks; distances equal to ~1e-6 — GEMM vs fold order)."""

import pytest
from pyspark.sql import functions as F

from oasisdb_spark.index.flat import knn_flat
from oasisdb_spark.pipeline.ann import knn_brute_batched


def _base(embeddings):
    return embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))


def _q(embeddings, n=10):
    return embeddings.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.mark.parametrize("space", ["l2", "ip", "cos"])
def test_batched_matches_flat(spark, embeddings, space):
    base, q = _base(embeddings), _q(embeddings)
    fast = knn_brute_batched(q, base, k=10, space=space)
    slow = knn_flat(q, base, k=10, space=space)
    f = {(r["query_id"], r["rank"]): (r["id"], r["distance"]) for r in fast.collect()}
    s = {(r["query_id"], r["rank"]): (r["id"], r["distance"]) for r in slow.collect()}
    assert set(f) == set(s)
    for key in f:
        assert f[key][0] == s[key][0]
        # FIXTURES.md tolerance: rtol 1e-5; abs floor covers GEMM
        # cancellation on near-zero distances
        assert f[key][1] == pytest.approx(s[key][1], rel=1e-5, abs=1e-6)


def test_unknown_space_rejected(spark, embeddings):
    with pytest.raises(ValueError):
        knn_brute_batched(_q(embeddings), _base(embeddings), k=5, space="chebyshev")


def test_hamming_float_matches_flat(spark, embeddings):
    """Generic (non-binary) hamming batch kernel agrees with the
    expression spec, including tie order (integer distances tie a lot)."""
    base, q = _base(embeddings), _q(embeddings, 5)
    fast = {(r["query_id"], r["rank"]): (r["id"], r["distance"])
            for r in knn_brute_batched(q, base, k=10, space="hamming").collect()}
    slow = {(r["query_id"], r["rank"]): (r["id"], float(r["distance"]))
            for r in knn_flat(q, base, k=10, space="hamming").collect()}
    assert fast == slow


def test_hamming_packed_binary_matches_flat(spark, embeddings):
    """Binary vectors route through the packed XOR-popcount path and
    still agree exactly with the expression spec."""
    binarize = lambda c: F.transform(c, lambda x: F.when(x > 0, F.lit(1.0)).otherwise(F.lit(0.0)).cast("float"))
    base = _base(embeddings).withColumn("vector", binarize(F.col("vector")))
    q = _q(embeddings, 5).withColumn("query_vec", binarize(F.col("query_vec")))
    fast = {(r["query_id"], r["rank"]): (r["id"], r["distance"])
            for r in knn_brute_batched(q, base, k=10, space="hamming").collect()}
    slow = {(r["query_id"], r["rank"]): (r["id"], float(r["distance"]))
            for r in knn_flat(q, base, k=10, space="hamming").collect()}
    assert fast == slow


def test_gemm_query_chunking_matches_unchunked(spark, embeddings):
    """max_query_rows smaller than the batch → chunked passes union to
    the identical result set."""
    from pyspark.sql import functions as F

    from oasisdb_spark.pipeline.ann import knn_brute_batched

    base = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    q = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    whole = {(r["query_id"], r["rank"]): r["id"] for r in knn_brute_batched(q, base, k=5).collect()}
    chunked = {
        (r["query_id"], r["rank"]): r["id"]
        for r in knn_brute_batched(q, base, k=5, max_query_rows=3).collect()
    }
    assert chunked == whole
