"""IVF-Flat build + search — mirrors internal/index/ivf_test.go:20-96
(exact nearest on separable data, add-after-train) plus a recall@k
check vs the Flat oracle mirroring benchmarks/run_benchmarks.py:136-142."""

import numpy as np
from pyspark.sql import functions as F

from oasisdb_spark.index.flat import knn_flat
from oasisdb_spark.index.ivf import build_ivf, knn_ivf, knn_ivf_cogrouped
from oasisdb_spark.index.kmeans import kmeans_fit


def test_kmeans_deterministic_and_separable():
    x = np.array([[0.0, 0], [0.1, 0], [10, 0], [10.1, 0]], dtype=np.float32)
    c1 = kmeans_fit(x, 2)
    c2 = kmeans_fit(x, 2)
    assert np.array_equal(c1, c2)
    assert sorted(round(float(v[0]), 2) for v in c1) == [0.05, 10.05]


def test_ivf_exact_on_separable(spark, tiny_vectors):
    cent, idx = build_ivf(tiny_vectors, nlist=4)
    q = spark.createDataFrame(
        [("10", [10.0, 0.0, 0.0, 0.0])], "query_id STRING, query_vec ARRAY<FLOAT>"
    )
    res = knn_ivf(q, cent, idx, k=1, nprobe=4).collect()
    assert res[0]["id"] == "10" and res[0]["distance"] == 0.0


def test_ivf_full_probe_equals_flat(spark, embeddings):
    """nprobe = nlist ⇒ IVF must return exactly the Flat result."""
    base = embeddings.select(F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"))
    q = (
        embeddings.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    cent, idx = build_ivf(base, nlist=8)
    ivf_res = {(r["query_id"], r["rank"]): r["id"] for r in knn_ivf(q, cent, idx, k=5, nprobe=8).collect()}
    flat_res = {(r["query_id"], r["rank"]): r["id"] for r in knn_flat(q, base, k=5).collect()}
    assert ivf_res == flat_res


def test_ivf_recall_at_10(spark, embeddings):
    """recall@10 with nprobe=4/nlist=16 must clear 0.8 on the sf0.001
    embeddings (run_benchmarks.py:136-142 semantics)."""
    base = embeddings.select(F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"))
    q = (
        embeddings.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    cent, idx = build_ivf(base, nlist=16)
    approx = knn_ivf(q, cent, idx, k=10, nprobe=4)
    exact = knn_flat(q, base, k=10)
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["id"])
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["id"])
    recalls = [len(a[qid] & e[qid]) / len(e[qid]) for qid in e]
    assert sum(recalls) / len(recalls) >= 0.8


def test_ivf_persist_roundtrip(spark, tiny_vectors, tmp_path):
    cent, idx = build_ivf(tiny_vectors, nlist=4, out_dir=str(tmp_path / "ivf"))
    assert cent.shape == (4, 4) and cent.dtype == np.float32
    assert idx.count() == 20
    # partitioned layout on disk = on-disk inverted lists
    assert any(p.name.startswith("cluster_id=") for p in (tmp_path / "ivf" / "lists").iterdir())


def test_ivf_add_after_build(spark, tiny_vectors, tmp_path):
    """Add-after-train (ivf_test.go:96): vectors appended to a built
    index — no retrain — are found by subsequent searches, and full
    probing still equals the exact result over the grown set."""
    from oasisdb_spark.index.ivf import append_ivf, load_ivf

    first = tiny_vectors.filter(F.col("id").cast("int") <= 10)
    rest = tiny_vectors.filter(F.col("id").cast("int") > 10)
    d = str(tmp_path / "ivf")
    build_ivf(first, nlist=4, out_dir=d)
    append_ivf(rest, d, load_ivf(spark, d)[0])
    cent, idx = load_ivf(spark, d)
    assert idx.count() == 20
    q = spark.createDataFrame(
        [("q", [20.0, 0.0, 0.0, 0.0])], "query_id STRING, query_vec ARRAY<FLOAT>"
    )
    res = knn_ivf(q, cent, idx, k=1, nprobe=4).collect()
    assert res[0]["id"] == "20" and res[0]["distance"] == 0.0
    full = {r["id"] for r in knn_ivf(q, cent, idx, k=5, nprobe=4).collect()}
    exact = {r["id"] for r in knn_flat(q, tiny_vectors, k=5).collect()}
    assert full == exact


def test_deterministic_sample_unbiased_and_stable(spark):
    from pyspark.sql import functions as F

    from oasisdb_spark.index.ivf import deterministic_sample

    df = spark.range(10_000).select(
        F.col("id"), F.array(F.col("id").cast("float")).alias("vector")
    )
    s1 = deterministic_sample(df.select("vector"), 10_000, 500, "vector")
    s2 = deterministic_sample(df.select("vector"), 10_000, 500, "vector")
    a = sorted(r["vector"][0] for r in s1.collect())
    b = sorted(r["vector"][0] for r in s2.collect())
    assert a == b  # deterministic across invocations
    assert 300 <= len(a) <= 500  # ~cap with margin, hard-limited at cap
    # unbiased wrt storage order: the sample spans the id range rather
    # than clustering at the head
    assert min(a) < 2000 and max(a) > 8000
    # small inputs pass through whole
    assert deterministic_sample(df.select("vector"), 400, 500, "vector").count() == 10_000


def test_knn_ivf_id_filter_exact_under_full_probe(spark, embeddings):
    """id_filter semi-joins candidates after probe pruning; at
    nprobe=nlist the filtered result is the exact filtered top-k."""
    from pyspark.sql import functions as F

    from oasisdb_spark.index.flat import knn_flat
    from oasisdb_spark.index.ivf import build_ivf, knn_ivf

    base = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    cent, idx = build_ivf(base, nlist=4)
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ids = embeddings.filter(F.col("label") == 1).select(F.col("vec_id").alias("id"))
    got = knn_ivf(q, cent, idx, k=5, nprobe=4, id_filter=ids).collect()
    want = knn_flat(q, base.join(ids, on="id", how="left_semi"), k=5).collect()
    assert {(r["query_id"], r["id"], r["rank"]) for r in got} == {
        (r["query_id"], r["id"], r["rank"]) for r in want
    }


def test_ivf_search_stats_counts_probed_candidates(spark, embeddings, tmp_path):
    """Counters parity (reference HNSW runtime stats): n_candidates is
    the exact probed-list volume; full probe counts the whole base."""
    from pyspark.sql import functions as F

    from oasisdb_spark.index.ivf import build_ivf, ivf_search_stats

    base = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    n = base.count()
    _, idx = build_ivf(base, nlist=4, out_dir=str(tmp_path / "ivf"))
    # ivf_search_stats takes the on-disk centroids table as a DataFrame
    cent = spark.read.parquet(str(tmp_path / "ivf" / "centroids"))
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    full = ivf_search_stats(q, cent, idx, nprobe=4).collect()
    assert all(r["n_probes"] == 4 and r["n_candidates"] == n for r in full)
    partial = {r["query_id"]: r for r in ivf_search_stats(q, cent, idx, nprobe=1).collect()}
    assert all(r["n_probes"] == 1 and 0 < r["n_candidates"] < n for r in partial.values())


def test_knn_ivf_cogrouped_matches_knn_ivf(spark, embeddings):
    """knn_ivf_cogrouped (probes cogrouped with the lists, one GEMM per
    cluster whose survivors the in-order fold re-scores) returns
    knn_ivf's rows — ids, ranks and distances, unrounded — at full AND
    partial probes, in every space."""
    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    cent, idx = build_ivf(emb, nlist=8)
    q = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def rows(search, nprobe, space):
        out = search(q, cent, idx, k=5, nprobe=nprobe, space=space)
        return sorted((r["query_id"], r["id"], r["rank"], r["distance"]) for r in out.collect())

    for space in ("l2", "ip", "cos", "hamming"):
        for nprobe in (8, 2):
            want = rows(knn_ivf, nprobe, space)
            assert rows(knn_ivf_cogrouped, nprobe, space) == want and want, (space, nprobe)


def test_double_queries_keep_their_precision(spark, embeddings):
    """ARRAY<DOUBLE> queries are scored as given: at nprobe = nlist,
    knn_ivf and knn_ivf_cogrouped return knn_flat's rows, distances
    included, for queries that float32 cannot hold (the fixture cast to
    double and scaled by 1.1)."""
    base = embeddings.select(F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"))
    q = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.1).alias("query_vec"),
    )
    cent, idx = build_ivf(base, nlist=4)

    def rows(df):
        return sorted((r["query_id"], r["id"], r["rank"], r["distance"]) for r in df.collect())

    for space in ("l2", "ip", "cos"):
        want = rows(knn_flat(q, base, k=10, space=space))
        assert rows(knn_ivf(q, cent, idx, k=10, nprobe=4, space=space)) == want, space
        assert rows(knn_ivf_cogrouped(q, cent, idx, k=10, nprobe=4, space=space)) == want, space
