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


def _chunk_search(kernel, base):
    """The kNN call for kernel over base, as a function of the queries."""
    from oasisdb_spark.index.binq import build_binq, knn_binq
    from oasisdb_spark.index.ivfpq import build_ivfpq, knn_ivfpq
    from oasisdb_spark.index.ivfsq import build_ivfsq, knn_ivfsq

    if kernel == "knn_brute_batched":
        return lambda q: knn_brute_batched(q, base, k=5)
    if kernel == "knn_ivfpq":
        index = build_ivfpq(base, nlist=4, m=8)
        return lambda q: knn_ivfpq(q, *index, k=5, nprobe=2, refine_base=base)
    if kernel == "knn_ivfsq":
        index = build_ivfsq(base, nlist=4)
        return lambda q: knn_ivfsq(q, *index, k=5, nprobe=2)
    index = build_binq(base)
    return lambda q: knn_binq(q, *index, k=5, refine_base=base)


@pytest.mark.parametrize("kernel", ["knn_brute_batched", "knn_ivfpq", "knn_ivfsq", "knn_binq"])
def test_query_chunking_matches_unchunked(spark, embeddings, monkeypatch, kernel):
    """A query frame larger than kernels.QUERY_BATCH_ROWS runs as
    several collect-and-broadcast passes whose union equals the one-pass
    result in ids, ranks and distances. The brute float32 GEMM is no
    exception: BLAS picks its kernel by matrix shape, but the GEMM only
    picks the survivors, which are re-scored by the in-order fold; the
    other kernels score each row on its own."""
    from oasisdb_spark.index import kernels

    search = _chunk_search(kernel, _base(embeddings))
    q = _q(embeddings, 10)

    def rows():
        return sorted((r["query_id"], r["rank"], r["id"], r["distance"]) for r in search(q).collect())

    whole = rows()
    monkeypatch.setattr(kernels, "QUERY_BATCH_ROWS", 3)
    chunked = rows()
    assert len(whole) == 10 * 5
    assert [r[:3] for r in chunked] == [r[:3] for r in whole]
    rel = 1e-6 if kernel == "knn_brute_batched" else 0
    assert [r[3] for r in chunked] == pytest.approx([r[3] for r in whole], rel=rel, abs=0)


def test_empty_query_frame_gives_no_rows(spark, embeddings):
    """A query frame with no rows returns no rows from every
    collect-and-broadcast kernel, as knn_ivf does; mutual kNN over an
    empty base, whose query frame is that base, returns no pairs."""
    from oasisdb_spark.index.binq import build_binq, knn_binq
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs

    base, q = _base(embeddings), _q(embeddings, 0)
    for space in ("l2", "ip", "cos", "hamming"):
        assert knn_brute_batched(q, base, k=5, space=space).collect() == [], space
    index = build_binq(base)
    assert knn_binq(q, *index, k=5).collect() == []
    assert knn_binq(q, *index, k=5, refine_base=base).collect() == []
    assert mutual_knn_pairs(base.where(F.col("id") < 0), k=2).collect() == []
