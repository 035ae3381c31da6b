"""Binary-quantization tier (index/binq.py): sign-bit codes, packed
hamming scan, exact refine."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oasisdb_spark.index.binq import build_binq, encode_binq, knn_binq, train_binq
from oasisdb_spark.index.flat import knn_flat


@pytest.fixture(scope="module")
def base(spark, embeddings):
    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def queries(spark, embeddings):
    return embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_encode_packs_sign_bits(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 1.0]), (2, [-1.0, -1.0, -1.0])], "id BIGINT, vector ARRAY<FLOAT>"
    )
    means = np.zeros(3, dtype=np.float32)
    rows = {r["id"]: r["code"] for r in encode_binq(df, means).collect()}
    # 3 dims pad to 64 bits = one word; bits [1,0,1] big-endian in the word
    assert len(rows[1]) == 1 and rows[1] != rows[2]
    assert rows[2] == [0]  # all below mean → all zero bits


def test_covering_refine_equals_flat(spark, base, queries):
    """refine_factor·k >= N makes BQ exact — identical to Flat top-k
    (the driver-gate configuration, same trick as ivfpq/lsh)."""
    n = base.count()
    means, codes = build_binq(base)
    got = knn_binq(queries, means, codes, k=5, refine_base=base, refine_factor=n).collect()
    want = knn_flat(queries, base, k=5).collect()
    assert {(r["query_id"], r["id"], r["rank"]) for r in got} == {
        (r["query_id"], r["id"], r["rank"]) for r in want
    }


def test_moderate_refine_recall(spark, base, queries):
    """Production shape (refine_factor=8): top-1 self-match must survive
    the hamming shortlist; recall@5 vs exact should be high."""
    means, codes = build_binq(base)
    got = knn_binq(queries, means, codes, k=5, refine_base=base, refine_factor=8)
    top1 = {r["query_id"]: r["id"] for r in got.filter(F.col("rank") == 1).collect()}
    assert top1 == {i: i for i in range(5)}  # self is hamming-distance 0
    want = knn_flat(queries, base, k=5).collect()
    exact = {}
    for r in want:
        exact.setdefault(r["query_id"], set()).add(r["id"])
    hits = sum(
        r["id"] in exact[r["query_id"]] for r in got.collect()
    )
    assert hits / (5 * 5) >= 0.6  # shortlist recall on the fixture


def test_no_refine_ranks_by_hamming(spark, base, queries):
    means, codes = build_binq(base)
    rows = knn_binq(queries, means, codes, k=3, refine_base=None).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert rs[0]["id"] == q and rs[0]["distance"] == 0.0  # self code identical
        assert all(rs[i]["distance"] <= rs[i + 1]["distance"] for i in range(len(rs) - 1))


def test_id_filter(spark, base, queries, embeddings):
    """Filtered BQ: only filter-surviving ids can appear; exact under
    covering refine."""
    n = base.count()
    ids = embeddings.filter(F.col("label") == 1).select(F.col("vec_id").alias("id"))
    means, codes = build_binq(base)
    got = knn_binq(
        queries, means, codes, k=5, refine_base=base, refine_factor=n, id_filter=ids
    ).collect()
    want = knn_flat(queries, base.join(ids, on="id", how="left_semi"), k=5).collect()
    assert {(r["query_id"], r["id"], r["rank"]) for r in got} == {
        (r["query_id"], r["id"], r["rank"]) for r in want
    }


def test_persistence_roundtrip(spark, base, queries, tmp_path):
    out = str(tmp_path / "binq_idx")
    means, codes = build_binq(base, out_dir=out)
    means2 = np.load(f"{out}/model/means.npy")
    codes2 = spark.read.parquet(f"{out}/codes")
    got = knn_binq(queries, means2, codes2, k=3, refine_base=base, refine_factor=8).collect()
    ref = knn_binq(queries, means, codes, k=3, refine_base=base, refine_factor=8).collect()
    assert {(r["query_id"], r["id"], r["rank"]) for r in got} == {
        (r["query_id"], r["id"], r["rank"]) for r in ref
    }


def test_binq_collection_end_to_end(spark, tmp_path, embeddings):
    """Catalog surface: create binq collection → upsert → build →
    search (refined exact top-1 self-match) → incremental add → delete
    honored via tombstones."""
    from oasisdb_spark.catalog import Catalog
    from oasisdb_spark.search import add_to_index, build_index, search_vectors

    cat = Catalog(spark, str(tmp_path / "whbq"))
    cat.create_collection("bq", dimension=64, index_type="binq",
                          params={"refine_factor": "8"})
    docs = embeddings.filter(F.col("vec_id") < 150).select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"),
        F.lit(None).cast("map<string,string>").alias("parameters"),
    )
    cat.upsert_documents("bq", docs)
    build_index(cat, "bq")
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = search_vectors(cat, "bq", q, k=5)
    top1 = {r["query_id"]: r["id"] for r in res.filter(F.col("rank") == 1).collect()}
    assert top1 == {"0": "0", "1": "1", "2": "2"}
    # incremental add
    new = embeddings.filter(F.col("vec_id").between(150, 179)).select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"),
        F.lit(None).cast("map<string,string>").alias("parameters"),
    )
    cat.upsert_documents("bq", new)
    add_to_index(cat, "bq", new)
    q2 = embeddings.filter(F.col("vec_id") == 160).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert search_vectors(cat, "bq", q2, k=1).collect()[0]["id"] == "160"
    # delete honored
    cat.delete_document("bq", "0")
    hits = [r["id"] for r in search_vectors(cat, "bq", q, k=5).collect()]
    assert "0" not in hits


def test_hamming_ties_keep_id_order(spark):
    """Without refine, results follow the (hamming, id) total order even
    when many rows tie at the k-th distance: ±1 vectors in 8-d have only
    nine hamming values, so every partition holds boundary ties."""
    rng = np.random.default_rng(7)
    X = rng.choice([-1.0, 1.0], size=(400, 8))
    base = spark.createDataFrame(
        [(i, [float(v) for v in x]) for i, x in enumerate(X)], "id BIGINT, vector ARRAY<FLOAT>"
    ).repartition(4)
    Q = X[:6]
    queries = spark.createDataFrame(
        [(j, [float(v) for v in q]) for j, q in enumerate(Q)], "query_id INT, query_vec ARRAY<FLOAT>"
    )
    got = knn_binq(queries, np.zeros(8, dtype=np.float32), encode_binq(base, np.zeros(8)), k=5)
    ids = np.arange(len(X))
    for j, q in enumerate(Q):
        ham = (X != q).sum(axis=1)
        want = list(ids[np.lexsort((ids, ham))][:5])
        rows = sorted(got.filter(F.col("query_id") == j).collect(), key=lambda r: r["rank"])
        assert [r["id"] for r in rows] == want, j
        assert [r["distance"] for r in rows] == [float(h) for h in np.sort(ham)[:5]]
