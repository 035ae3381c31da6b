"""IVFPQ — mirrors internal/index/ivfpq_test.go:20-229 (search finds the
query's own id; param validation; dim % m rejection) + recall vs Flat."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oasisdb_spark.errors import ErrInvalidParams
from oasisdb_spark.index.flat import knn_flat
from oasisdb_spark.index.ivfpq import build_ivfpq, knn_ivfpq, train_pq


def _base(embeddings):
    return embeddings.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )


def _queries(embeddings, n):
    return embeddings.filter(F.col("vec_id") < n).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivfpq_dim_not_divisible_rejected(spark, embeddings):
    cents = np.zeros((4, 64), dtype=np.float32)
    with pytest.raises(ErrInvalidParams):
        train_pq(_base(embeddings), cents, m=7)  # 64 % 7 != 0


def test_ivfpq_self_recall(spark, embeddings):
    """Each query vector is in the base set; with full probe its own id
    must appear in the top-10 (ADC error is small at m=8 on 64-d)."""
    base = _base(embeddings)
    cents, books, idx = build_ivfpq(base, nlist=8, m=8)
    assert books.shape == (8, 256, 8)
    q = _queries(embeddings, 10)
    res = knn_ivfpq(q, cents, books, idx, k=10, nprobe=8)
    rows = res.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["id"])
    assert all(qid in ids for qid, ids in by_q.items())


def test_ivfpq_recall_vs_flat(spark, embeddings):
    base = _base(embeddings)
    q = _queries(embeddings, 20)
    cents, books, idx = build_ivfpq(base, nlist=8, m=8)
    approx = knn_ivfpq(q, cents, books, idx, k=10, nprobe=8)
    exact = knn_flat(q, base, k=10)
    a, e = {}, {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["id"])
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["id"])
    recalls = [len(a[qid] & e[qid]) / 10 for qid in e]
    assert sum(recalls) / len(recalls) >= 0.45  # pure ADC is lossy at m=8


def test_ivfpq_refined_recall_vs_flat(spark, embeddings):
    """ADC shortlist + exact re-rank (IVFPQR pattern) must recover
    near-exact recall."""
    base = _base(embeddings)
    q = _queries(embeddings, 20)
    cents, books, idx = build_ivfpq(base, nlist=8, m=8)
    approx = knn_ivfpq(q, cents, books, idx, k=10, nprobe=8, refine_base=base, refine_factor=4)
    exact = knn_flat(q, base, k=10)
    a, e = {}, {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["id"])
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["id"])
    recalls = [len(a[qid] & e[qid]) / 10 for qid in e]
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivfpq_persist_roundtrip(spark, embeddings, tmp_path):
    base = _base(embeddings)
    cents, books, idx = build_ivfpq(base, nlist=4, m=8, out_dir=str(tmp_path / "pq"))
    assert (tmp_path / "pq" / "model" / "codebooks.npy").exists()
    reloaded = spark.read.parquet(str(tmp_path / "pq" / "lists"))
    assert reloaded.count() == base.count()
    row = reloaded.first()
    assert len(row["codes"]) == 8


def test_ivfpq_add_after_build(spark, embeddings, tmp_path):
    """Add-after-build: new vectors encoded with the existing coarse
    centroids + codebooks land in the lists and are retrievable (the
    exact-refine stage pins the added vector to rank 1)."""
    from pyspark.sql import functions as F

    from oasisdb_spark.index.ivfpq import append_ivfpq, build_ivfpq, knn_ivfpq, load_ivfpq

    base = embeddings.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    first = base.filter(F.col("id").cast("int") < 150)
    rest = base.filter(F.col("id").cast("int") >= 150)
    d = str(tmp_path / "pq")
    build_ivfpq(first, nlist=4, m=8, out_dir=d)
    append_ivfpq(rest, d, *load_ivfpq(spark, d)[:2])
    cents, books, idx = load_ivfpq(spark, d)
    assert idx.count() == base.count()
    q = (
        embeddings.filter(F.col("vec_id") == 180)
        .select(F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    res = knn_ivfpq(q, cents, books, idx, k=3, nprobe=4, refine_base=base, refine_factor=4).collect()
    assert res[0]["id"] == "180" and res[0]["rank"] == 1


def test_ivfpq_spaces_match_flat(spark, embeddings):
    """ip/cos ADC tables (dot decomposition + reconstruction norms) rank
    near the exact kernel; a covering refine makes them metric-exact."""
    base = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).cache()
    q = base.filter(F.col("id") < 5).select(
        F.col("id").alias("query_id"), F.col("vector").alias("query_vec")
    )
    cents, books, idx = build_ivfpq(base, nlist=8, m=8)
    idx = idx.cache(); idx.count()
    n = base.count()
    for space in ("ip", "cos"):
        exact = {(r["query_id"], r["id"]) for r in knn_flat(q, base, k=10, space=space).collect()}
        got = {
            (r["query_id"], r["id"])
            for r in knn_ivfpq(
                q, cents, books, idx, k=10, nprobe=8, space=space,
                refine_base=base, refine_factor=(n // 10) + 1,
            ).collect()
        }
        assert got == exact, f"space={space}: covering refine must equal Flat"


def test_create_collection_rejects_hamming_for_quantized(spark, tmp_path):
    from oasisdb_spark import errors
    from oasisdb_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    for itype in ("ivfpq", "ivfsq"):
        import pytest as _pytest

        with _pytest.raises(errors.ErrInvalidParams, match="hamming"):
            cat.create_collection(f"h_{itype}", 16, index_type=itype, space="hamming")
