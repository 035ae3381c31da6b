"""Collection/document CRUD — mirrors internal/db/collection_test.go,
document_test.go and the F5 error-path cases in FIXTURES.md."""

import os

import pytest
from pyspark.sql import functions as F

from oasisdb_spark import errors
from oasisdb_spark.catalog import Catalog
from oasisdb_spark.client import OasisClient


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def _docs(spark, n=5, dim=4):
    rows = [(str(i), [float(i)] * dim, {"tag": "a" if i % 2 == 0 else "b"}) for i in range(n)]
    return spark.createDataFrame(
        rows, "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>"
    )


def test_create_get_list_delete(catalog):
    catalog.create_collection("c1", dimension=4, index_type="flat")
    catalog.create_collection("c2", dimension=8)
    got = catalog.get_collection("c1")
    assert got.dimension == 4 and got.index_type == "flat" and got.space == "l2"
    # hnsw default (collection.go:45-47)
    assert catalog.get_collection("c2").index_type == "hnsw"
    assert catalog.list_collections() == ["c1", "c2"]
    assert catalog.bump_index_version("c2") == 1
    assert catalog.get_collection("c2").index_version == 1
    catalog.delete_collection("c1")
    assert catalog.list_collections() == ["c2"]


def test_create_errors(catalog):
    with pytest.raises(errors.ErrInvalidCollectionName):
        catalog.create_collection("", dimension=4)
    with pytest.raises(errors.ErrInvalidDimension):
        catalog.create_collection("x", dimension=0)
    catalog.create_collection("dup", dimension=4)
    with pytest.raises(errors.ErrCollectionExists):
        catalog.create_collection("dup", dimension=4)
    with pytest.raises(errors.ErrCollectionNotFound):
        catalog.get_collection("missing")
    with pytest.raises(errors.ErrCollectionNotFound):
        catalog.delete_collection("missing")
    # ivfpq dim % m validation (ivfpq.go:98-103)
    with pytest.raises(errors.ErrInvalidParams):
        catalog.create_collection("pq", dimension=10, index_type="ivfpq", params={"m": 8})


def test_upsert_get_delete_roundtrip(catalog, spark):
    catalog.create_collection("docs", dimension=4, index_type="flat")
    catalog.upsert_documents("docs", _docs(spark))
    assert catalog.count_documents("docs") == 5
    d = catalog.get_document("docs", "3")
    assert d["vector"] == [3.0, 3.0, 3.0, 3.0] and d["parameters"]["tag"] == "b"
    catalog.delete_document("docs", "3")
    assert catalog.count_documents("docs") == 4
    with pytest.raises(errors.ErrDocumentNotFound):
        catalog.get_document("docs", "3")
    with pytest.raises(errors.ErrDocumentNotFound):
        catalog.delete_document("docs", "3")


def test_upsert_newest_wins(catalog, spark):
    catalog.create_collection("docs", dimension=2, index_type="flat")
    v1 = spark.createDataFrame([("a", [1.0, 1.0], None)],
                               "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>")
    v2 = spark.createDataFrame([("a", [9.0, 9.0], None)],
                               "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>")
    catalog.upsert_documents("docs", v1)
    catalog.upsert_documents("docs", v2)
    assert catalog.count_documents("docs") == 1
    assert catalog.get_document("docs", "a")["vector"] == [9.0, 9.0]


def test_dimension_mismatch_rejected(catalog, spark):
    catalog.create_collection("docs", dimension=3, index_type="flat")
    with pytest.raises(errors.ErrDimensionMismatch):
        catalog.upsert_documents("docs", _docs(spark, dim=4))


def test_set_params(catalog):
    catalog.create_collection("c", dimension=4, index_type="ivf_flat")
    catalog.set_params("c", {"nprobe": 32})
    assert catalog.get_collection("c").params["nprobe"] == "32"
    with pytest.raises(errors.ErrInvalidParams):
        catalog.set_params("c", {"bogus_key": 1})
    with pytest.raises(errors.ErrInvalidParams):
        catalog.set_params("c", {"nprobe": "not_an_int"})
    with pytest.raises(errors.ErrInvalidParams):
        catalog.set_params("c", {"nprobe": 0})
    with pytest.raises(errors.ErrInvalidParams):
        catalog.set_params("c", {"adaptive_nprobe": 1})
    assert catalog.get_collection("c").params == {"nlist": "100", "nprobe": "32"}
    # set_params validates the merged params as create_collection does:
    # ivfpq builds 8-bit codes only, and m must divide the dimension
    catalog.create_collection("pq", dimension=64, index_type="ivfpq")
    before = catalog.get_collection("pq").params
    for bad in ({"nbits": 4}, {"m": 7}):
        with pytest.raises(errors.ErrInvalidParams):
            catalog.set_params("pq", bad)
        assert catalog.get_collection("pq").params == before


def test_compact_collection(catalog, spark):
    """Compaction rewrites many upsert outputs into few id-sorted files
    with identical contents (the LSM-compaction analog, K6)."""
    import os

    catalog.create_collection("c", dimension=4, index_type="flat")
    catalog.upsert_documents("c", _docs(spark, n=40))
    before = sorted(
        r["id"] for r in catalog.read_documents("c").select("id").collect()
    )
    n_files = catalog.compact_collection("c", target_files=2)
    assert n_files <= 2
    after = sorted(r["id"] for r in catalog.read_documents("c").select("id").collect())
    assert after == before
    # point lookup still works post-compaction
    assert catalog.get_document("c", "7")["vector"] == [7.0] * 4


def test_gc_grace_measured_from_supersession(spark, catalog):
    """The GC age gate must measure time since a generation was
    SUPERSEDED (stamped at pointer flip), not since it was created —
    otherwise an idle table's old generation gets zero grace on the
    next write and in-flight readers race FileNotFound."""
    import os
    import time

    catalog.create_collection("g", dimension=4, index_type="flat")
    catalog.upsert_documents("g", _docs(spark))
    data = catalog.data_path("g")
    gen1 = catalog._resolve(data)
    # simulate a long-idle table: generation created long ago
    old = time.time() - 10_000
    os.utime(gen1, (old, old))
    catalog.upsert_documents("g", _docs(spark))  # flip: gen1 superseded
    # gen1 survives (keep-2) and its mtime was re-stamped at the flip,
    # so its 120s grace period starts NOW, not 10000s ago
    assert os.path.exists(gen1)
    assert time.time() - os.path.getmtime(gen1) < 60
    # a third write makes gen1 GC-eligible by count, but the fresh
    # supersession stamp keeps it alive for in-flight readers
    catalog.upsert_documents("g", _docs(spark))
    assert os.path.exists(gen1)
    # once the grace period has genuinely elapsed since supersession,
    # the next write retires it
    os.utime(gen1, (old, old))
    catalog.upsert_documents("g", _docs(spark))
    assert not os.path.exists(gen1)


def test_null_vector_and_null_id_rejected_at_ingest(catalog, spark):
    # size(NULL) != d is NULL, so a NULL vector used to PASS the
    # dimension gate and crash index builds deep in np.array; a NULL id
    # is unaddressable (newest-wins merge and lookups key on id)
    catalog.create_collection("cnull", dimension=4, index_type="flat")
    nv = spark.createDataFrame(
        [("1", None, None)], "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>"
    )
    with pytest.raises(errors.ErrDimensionMismatch, match="NULL"):
        catalog.upsert_documents("cnull", nv)
    ni = spark.createDataFrame(
        [(None, [1.0, 2.0, 3.0, 4.0], None)],
        "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>",
    )
    with pytest.raises(errors.ErrInvalidParams, match="id"):
        catalog.upsert_documents("cnull", ni)


def test_metadata_calls_run_no_spark_jobs(spark, tmp_path):
    """Catalog lookups, planning a document read and a result-cache hit
    are driver-only: the serving path pays no Spark job for metadata."""
    client = OasisClient(spark, str(tmp_path / "wh"))
    client.create_collection("c", 4, index_type="ivf_flat")
    client.batch_upsert_documents(
        "c", [{"id": str(i), "vector": [float(i), 0.0, 0.0, 0.0]} for i in range(5)]
    )
    client.search_vectors("c", [1.0, 0.0, 0.0, 0.0], limit=2)  # fills the cache
    cat, sc = client.catalog, spark.sparkContext
    calls = {
        "get_collection": lambda: cat.get_collection("c"),
        "list_collections": cat.list_collections,
        "set_params": lambda: cat.set_params("c", {"nprobe": 3}),
        "read_documents": lambda: cat.read_documents("c"),
        "cache_hit": lambda: client.search_vectors("c", [1.0, 0.0, 0.0, 0.0], limit=2),
    }
    try:
        for name, call in calls.items():
            group = f"metadata-{name}-{tmp_path.name}"
            sc.setJobGroup(group, name)
            call()
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert client.cache.hits == 1


def test_failed_catalog_write_keeps_previous_catalog(spark, catalog, monkeypatch):
    catalog.create_collection("keep", dimension=4, index_type="flat")
    before = catalog.get_collection("keep")

    def fail(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="disk full"):
        catalog.create_collection("lost", dimension=4)
    monkeypatch.undo()
    reopened = Catalog(spark, catalog.warehouse)
    assert reopened.list_collections() == ["keep"]
    assert reopened.get_collection("keep") == before
    assert not [f for f in os.listdir(catalog.warehouse) if ".tmp." in f]


def test_old_parquet_catalog_is_refused(spark, tmp_path):
    """A warehouse from before catalog.json holds only _collections/;
    it must be converted (MIGRATING.md §7), never read as empty."""
    old = tmp_path / "old"
    (old / "_collections").mkdir(parents=True)
    with pytest.raises(errors.OasisError, match="MIGRATING.md"):
        Catalog(spark, str(old))
