"""Client facade: same surface/shape as the reference SDK
(client-sdk/Python/client.py) and the HTTP handler tests' structural
assertions (internal/server/handlers_test.go: happy path, wrong-dim,
missing-collection, filtered search)."""

import pytest

from oasisdb_spark import errors
from oasisdb_spark.client import OasisClient


@pytest.fixture()
def client(spark, tmp_path):
    return OasisClient(spark, str(tmp_path / "wh"))


def _docs(n, dim=4):
    return [
        {"id": str(i), "vector": [float(i)] + [0.0] * (dim - 1),
         "parameters": {"label": str(i % 2)}}
        for i in range(n)
    ]


def test_health_and_collection_crud(client):
    assert client.health_check()
    created = client.create_collection("c1", 4, index_type="flat")
    assert created["name"] == "c1" and created["dimension"] == 4
    assert client.get_collection("c1")["index_type"] == "flat"
    client.create_collection("c2", 8)  # default hnsw (collection.go:45-47)
    assert [c["name"] for c in client.list_collections()] == ["c1", "c2"]
    client.delete_collection("c2")
    assert [c["name"] for c in client.list_collections()] == ["c1"]
    with pytest.raises(errors.ErrCollectionNotFound):
        client.get_collection("c2")


def test_document_crud_and_wrong_dim(client):
    client.create_collection("c", 4, index_type="flat")
    client.batch_upsert_documents("c", _docs(8))
    client.upsert_document("c", doc_id="3", vector=[9.0, 0.0, 0.0, 0.0])
    doc = client.get_document("c", "3")
    assert doc["vector"][0] == 9.0
    client.delete_document("c", "7")
    with pytest.raises(errors.ErrDocumentNotFound):
        client.get_document("c", "7")
    with pytest.raises(errors.ErrDimensionMismatch):
        client.upsert_document("c", doc_id="x", vector=[1.0, 2.0])  # handlers_test wrong-dim


def test_search_vectors_shape_and_cache(client):
    client.create_collection("c", 4, index_type="flat")
    client.batch_upsert_documents("c", _docs(10))
    res = client.search_vectors("c", [2.2, 0.0, 0.0, 0.0], limit=3)
    assert res["ids"] == ["2", "3", "1"]  # SearchResult{IDs, Distances} shape
    assert len(res["distances"]) == 3
    assert res["distances"] == sorted(res["distances"])
    client.search_vectors("c", [2.2, 0.0, 0.0, 0.0], limit=3)
    assert client.cache.hits == 1  # Q13 cache path


def test_search_documents_with_working_filter(client):
    client.create_collection("c", 4, index_type="flat")
    client.batch_upsert_documents("c", _docs(10))
    res = client.search_documents(
        "c", [2.2, 0.0, 0.0, 0.0], limit=3, filter={"label": "1"}
    )
    ids = [d["id"] for d in res["documents"]]
    assert ids == ["3", "1", "5"]  # odd ids only — filter is real, pre-pushdown
    assert all(d["parameters"]["label"] == "1" for d in res["documents"])


def test_build_index_then_ivf_search(client):
    client.create_collection(
        "c", 4, index_type="ivf_flat", parameters={"nlist": "4", "nprobe": "4"}
    )
    client.build_index("c", _docs(40))
    res = client.search_vectors("c", [10.2, 0.0, 0.0, 0.0], limit=3)
    assert res["ids"] == ["10", "11", "9"]  # nprobe=nlist → exact

    client.set_params("c", {"nprobe": 2})
    assert client.get_collection("c")["parameters"]["nprobe"] == "2"
    with pytest.raises(errors.ErrInvalidParams):
        client.set_params("c", {"bogus": 1})


def test_missing_collection_errors(client):
    with pytest.raises(errors.ErrCollectionNotFound):
        client.search_vectors("nope", [1.0], limit=1)
    with pytest.raises(errors.ErrCollectionNotFound):
        client.batch_upsert_documents("nope", _docs(1))


def test_client_upsert_after_build_is_searchable(client):
    """Reference parity: upsert on a collection with a built index adds
    the vector to the index (AddVector path) — searchable immediately,
    no rebuild."""
    client.create_collection("live", dimension=4, index_type="ivf_flat",
                             parameters={"nlist": 2, "nprobe": 2})
    docs = [{"id": str(i), "vector": [float(i), 0.0, 0.0, 0.0]} for i in range(1, 9)]
    client.build_index("live", docs)
    client.upsert_document("live", doc_id="99", vector=[99.0, 0.0, 0.0, 0.0])
    res = client.search_vectors("live", vector=[98.5, 0.0, 0.0, 0.0], limit=1)
    assert res["ids"] == ["99"]


def test_search_after_write_is_not_served_from_cache(client):
    """Read-your-writes: an upsert between rebuilds (add_to_index keeps
    index_version) and a set_params both drop the collection's cached
    results."""
    client.create_collection("ryw", 4, parameters={"nlist": "4"})  # hnsw
    client.build_index("ryw", _docs(40))
    q = [10.2, 0.0, 0.0, 0.0]
    assert client.search_vectors("ryw", q, limit=3)["ids"][0] == "10"
    client.upsert_document("ryw", doc_id="new", vector=q)
    res = client.search_vectors("ryw", q, limit=3)
    assert res["ids"][0] == "new" and res["distances"][0] == 0.0

    misses = client.cache.misses
    client.set_params("ryw", {"efsearch": 8})
    assert client.search_vectors("ryw", q, limit=3)["ids"][0] == "new"
    assert client.cache.misses == misses + 1
