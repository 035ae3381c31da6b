"""End-to-end search surface: create → upsert → build_index →
search_vectors / search_documents (with the WORKING metadata filter the
reference only declares — document.go:171, design.md:58-59)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oasisdb_spark.catalog import Catalog
from oasisdb_spark.index.flat import knn_flat
from oasisdb_spark.search import build_index, search_documents, search_vectors


@pytest.fixture()
def loaded(spark, tmp_path, embeddings):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("emb", dimension=64, index_type="ivf_flat", params={"nlist": 8, "nprobe": 8})
    docs = embeddings.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vector"),
        F.create_map(F.lit("label"), F.col("label").cast("string")).alias("parameters"),
    )
    cat.upsert_documents("emb", docs)
    return cat


def _q(spark, embeddings, n=3):
    return embeddings.filter(F.col("vec_id") < n).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_search_before_build_uses_flat(spark, loaded, embeddings):
    res = search_vectors(loaded, "emb", _q(spark, embeddings), k=5)
    rows = res.filter(F.col("rank") == 1).collect()
    assert {r["query_id"]: r["id"] for r in rows} == {"0": "0", "1": "1", "2": "2"}


def test_search_after_build_uses_ivf(spark, loaded, embeddings):
    v = build_index(loaded, "emb")
    assert v == 1 and loaded.get_collection("emb").index_version == 1
    res = search_vectors(loaded, "emb", _q(spark, embeddings), k=5)
    rows = res.filter(F.col("rank") == 1).collect()
    assert {r["query_id"]: r["id"] for r in rows} == {"0": "0", "1": "1", "2": "2"}


def test_search_documents_prefilter(spark, loaded, embeddings):
    """Pre-filter: every returned doc satisfies the predicate AND we get
    exactly k survivors (correct top-k under filter)."""
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    res = search_documents(
        loaded, "emb", _q(spark, embeddings, 2), k=5,
        metadata_filter=F.col("parameters")["label"] == "1",
    ).collect()
    assert len(res) == 10  # 2 queries x k
    assert all(labels[int(r["id"])] == 1 for r in res)


def test_search_documents_joins_payload(spark, loaded, embeddings):
    res = search_documents(loaded, "emb", _q(spark, embeddings, 1), k=3).collect()
    assert len(res) == 3
    assert all(r["vector"] is not None and r["parameters"]["label"] is not None for r in res)


def test_ivfpq_collection_end_to_end(spark, tmp_path, embeddings):
    cat = Catalog(spark, str(tmp_path / "wh2"))
    cat.create_collection("pq", dimension=64, index_type="ivfpq",
                          params={"nlist": 8, "nprobe": 8, "m": 8})
    docs = embeddings.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"),
        F.lit(None).cast("map<string,string>").alias("parameters"),
    )
    cat.upsert_documents("pq", docs)
    build_index(cat, "pq")
    res = search_vectors(cat, "pq", _q(spark, embeddings, 3), k=5)
    top1 = {r["query_id"]: r["id"] for r in res.filter(F.col("rank") == 1).collect()}
    assert top1 == {"0": "0", "1": "1", "2": "2"}  # refined exact re-rank


def test_add_to_index_incremental(spark, tmp_path, embeddings):
    """Catalog-level add-after-build: upsert new docs + add_to_index makes
    them searchable WITHOUT a rebuild or version bump (reference
    Add-on-trained-index semantics, ivf.go:99-127)."""
    from pyspark.sql import functions as F

    from oasisdb_spark.search import add_to_index

    cat = Catalog(spark, str(tmp_path / "inc"))
    cat.create_collection("inc", dimension=64, index_type="ivf_flat",
                          params={"nlist": 4, "nprobe": 4})
    first = embeddings.filter(F.col("vec_id") < 150).select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    cat.upsert_documents("inc", first)
    v = build_index(cat, "inc")
    new = embeddings.filter(F.col("vec_id").between(150, 199)).select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    cat.upsert_documents("inc", new)
    add_to_index(cat, "inc", new)
    assert cat.get_collection("inc").index_version == v  # no bump
    q = embeddings.filter(F.col("vec_id") == 180).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = search_vectors(cat, "inc", q, k=1).collect()
    assert res[0]["id"] == "180" and abs(res[0]["distance"]) < 1e-6


def test_add_to_index_reads_the_index_once(spark, tmp_path, embeddings, monkeypatch):
    """add_to_index loads the built index once and hands its model to the
    tier's append: Spark reads the index's lists once (for the anti-join
    of existing ids) and never its centroids table, which load_ivf reads
    on the driver."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from oasisdb_spark.index.ivf import load_ivf
    from oasisdb_spark.search import add_to_index

    cat = Catalog(spark, str(tmp_path / "once"))
    cat.create_collection("once", dimension=64, index_type="ivf_flat", params={"nlist": 4})
    docs = embeddings.select(F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector"))
    cat.upsert_documents("once", docs.filter(F.col("vec_id") < 150))
    v = build_index(cat, "once")
    new = docs.filter(F.col("vec_id").between(150, 159))
    cat.upsert_documents("once", new)
    reads, parquet = [], DataFrameReader.parquet

    def counting_parquet(self, *paths, **kwargs):
        reads.extend(paths)
        return parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    add_to_index(cat, "once", new)
    d = cat.index_path("once", v)
    assert [p for p in reads if p.startswith(d)] == [os.path.join(d, "lists")]
    assert load_ivf(spark, d)[1].count() == 160


def test_indexed_search_excludes_deleted(spark, tmp_path, embeddings):
    """Deleting a document after the index is built must remove it from
    indexed search results too (the reference leaves it in — IVF delete
    is a no-op, ivf.go:170-173). A rebuild bakes the delete in and
    clears the tombstones."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "del"))
    cat.create_collection("del", dimension=64, index_type="ivf_flat",
                          params={"nlist": 4, "nprobe": 4})
    base = embeddings.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    cat.upsert_documents("del", base)
    build_index(cat, "del")
    q = embeddings.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert search_vectors(cat, "del", q, k=1).collect()[0]["id"] == "7"
    cat.delete_document("del", "7")
    hits = [r["id"] for r in search_vectors(cat, "del", q, k=5).collect()]
    assert "7" not in hits and len(hits) == 5
    build_index(cat, "del")
    # rebuild clears tombstones by removing their pointer (no pointer
    # and an empty set are both "no pending deletes")
    ts = cat.read_tombstones("del")
    assert ts is None or ts.count() == 0
    hits = [r["id"] for r in search_vectors(cat, "del", q, k=5).collect()]
    assert "7" not in hits and len(hits) == 5


def test_build_index_gc_keeps_two_versions(spark, tmp_path, embeddings):
    """Rebuilds prune index snapshots older than the previous version
    (the reference's superseded-snapshot cleanup)."""
    import os

    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "gc"))
    cat.create_collection("gc", dimension=64, index_type="ivf_flat",
                          params={"nlist": 2, "nprobe": 2})
    base = embeddings.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    cat.upsert_documents("gc", base)
    for _ in range(3):
        build_index(cat, "gc")
    assert not os.path.exists(cat.index_path("gc", 1))
    assert os.path.exists(cat.index_path("gc", 2))
    assert os.path.exists(cat.index_path("gc", 3))
    q = embeddings.filter(F.col("vec_id") == 9).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert search_vectors(cat, "gc", q, k=1).collect()[0]["id"] == "9"


def test_nlist_auto_sizes_sqrt_n(spark, tmp_path, embeddings):
    """nlist='auto' builds ~sqrt(N) inverted lists."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "auto"))
    cat.create_collection("a", dimension=64, index_type="ivf_flat",
                          params={"nlist": "auto", "nprobe": 8})
    base = embeddings.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    cat.upsert_documents("a", base)
    v = build_index(cat, "a")
    import math
    n = base.count()
    cent = spark.read.parquet(cat.index_path("a", v) + "/centroids")
    assert cent.count() == int(math.sqrt(n))
    q = embeddings.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert search_vectors(cat, "a", q, k=1).collect()[0]["id"] == "3"


def test_filtered_search_pushes_into_ivf_index(spark, loaded, embeddings):
    """Filtered ANN: with a built index the pre-filter semi-joins probed
    candidates (no brute fallback); at nprobe=nlist the result equals
    exact kNN over the filtered survivors."""
    build_index(loaded, "emb")
    pred = F.col("parameters")["label"] == "1"
    res = search_documents(
        loaded, "emb", _q(spark, embeddings, 2), k=5, metadata_filter=pred
    ).collect()
    from oasisdb_spark.pipeline.ann import knn_brute_batched

    ref = knn_brute_batched(
        _q(spark, embeddings, 2), loaded.read_documents("emb").filter(pred), 5, space="l2"
    ).collect()
    assert {(r["query_id"], r["id"], r["rank"]) for r in res} == {
        (r["query_id"], r["id"], r["rank"]) for r in ref
    }
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    assert len(res) == 10 and all(labels[int(r["id"])] == 1 for r in res)


@pytest.mark.parametrize("space", ["l2", "ip"])
def test_flat_tier_ties_follow_distance_id_order(spark, tmp_path, space):
    """search_vectors on a flat collection keeps knn_flat's (distance,
    id) contract when duplicate vectors tie at the k-th distance.
    Small-integer coordinates keep the float32 GEMM exact."""
    rng = np.random.default_rng(3)
    distinct = rng.integers(-3, 4, size=(40, 8)).astype(float)
    X = np.tile(distinct, (10, 1))
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("t", dimension=8, index_type="flat", space=space)
    cat.upsert_documents("t", spark.createDataFrame(
        [(str(i), [float(v) for v in x], {}) for i, x in enumerate(X)],
        "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>",
    ).repartition(4))
    q = spark.createDataFrame(
        [(j, [float(v) for v in rng.integers(-3, 4, size=8)]) for j in range(6)],
        "query_id INT, query_vec ARRAY<FLOAT>",
    )
    base = cat.read_documents("t").select("id", "vector")

    def ranked(df):
        return sorted((r["query_id"], r["rank"], r["id"]) for r in df.collect())

    assert ranked(search_vectors(cat, "t", q, k=5)) == ranked(knn_flat(q, base, k=5, space=space))


def test_tier_table_covers_every_index_type():
    from oasisdb_spark import search
    from oasisdb_spark.catalog import INDEX_TYPES

    assert set(search._TIERS) == set(INDEX_TYPES)


def test_unknown_index_type_raises_everywhere(spark, loaded, embeddings, monkeypatch):
    import dataclasses

    from oasisdb_spark.errors import ErrInvalidParams
    from oasisdb_spark.search import add_to_index

    real = loaded.get_collection("emb")
    monkeypatch.setattr(
        loaded, "get_collection", lambda name: dataclasses.replace(real, index_type="bogus")
    )
    docs = loaded.read_documents("emb").limit(1)
    for call in (
        lambda: build_index(loaded, "emb"),
        lambda: add_to_index(loaded, "emb", docs),
        lambda: search_vectors(loaded, "emb", _q(spark, embeddings), k=5),
    ):
        with pytest.raises(ErrInvalidParams, match="bogus"):
            call()
    monkeypatch.undo()
    assert loaded.get_collection("emb").index_version == 0  # no silent bump


def test_benchmark_patch_points_see_every_call(spark, tmp_path, embeddings, monkeypatch):
    """perfbench/tracing.py times layers by replacing these module
    attributes; searches and builds must go through them at call time."""
    from oasisdb_spark import search
    from oasisdb_spark.index import ivf, ivfpq
    from oasisdb_spark.pipeline import ann

    calls = {}

    def count(module, attr):
        fn = getattr(module, attr)
        key = f"{module.__name__}.{attr}"
        calls[key] = 0

        def wrapper(*a, **kw):
            calls[key] += 1
            return fn(*a, **kw)

        monkeypatch.setattr(module, attr, wrapper)

    for attr in ("knn_ivf", "build_ivf", "knn_ivfpq", "build_ivfpq"):
        count(search, attr)
    count(ivf, "kmeans_fit")
    count(ivfpq, "kmeans_fit")
    count(ann, "knn_brute_batched")
    cat = Catalog(spark, str(tmp_path / "wh"))
    docs = embeddings.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    )
    for name in ("hnsw", "ivfpq"):
        cat.create_collection(name, dimension=64, index_type=name, params={"nlist": 4, "m": 8})
        cat.upsert_documents(name, docs)
        search_vectors(cat, name, _q(spark, embeddings), k=5).collect()
        build_index(cat, name)
        search_vectors(cat, name, _q(spark, embeddings), k=5).collect()
    assert all(calls.values()), calls
