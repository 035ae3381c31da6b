"""REST façade: the reference's HTTP route surface (server.go:25-39)
served over OasisClient — replays the client test assertions over real
HTTP (urllib against a live ThreadingHTTPServer on a random port),
mirroring handlers_test.go's structural checks: happy path, wrong-dim
400, missing-collection 404, filtered search."""

import json
import urllib.error
import urllib.request

import pytest

from oasisdb_spark.client import OasisClient
from oasisdb_spark.server import OasisServer


@pytest.fixture()
def srv(spark, tmp_path):
    with OasisServer(OasisClient(spark, str(tmp_path / "wh")), port=0) as s:
        yield s


def _req(srv, method, path, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=data, method=method,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, json.loads(raw) if raw else None


def _docs(n, dim=4):
    return [
        {"id": str(i), "vector": [float(i)] + [0.0] * (dim - 1),
         "parameters": {"label": str(i % 2)}}
        for i in range(n)
    ]


def test_health(srv):
    code, body = _req(srv, "GET", "/")
    assert code == 200 and body == {"status": "ok"}


def test_collection_crud_over_http(srv):
    code, body = _req(srv, "POST", "/v1/collections",
                      {"name": "c1", "dimension": 4, "index_type": "flat"})
    assert code == 200 and body["name"] == "c1" and body["dimension"] == 4
    _req(srv, "POST", "/v1/collections", {"name": "c2", "dimension": 8})
    code, body = _req(srv, "GET", "/v1/collections")
    assert code == 200 and body == {"collections": ["c1", "c2"], "count": 2}
    code, body = _req(srv, "GET", "/v1/collections/c1")
    assert code == 200 and body["index_type"] == "flat"
    code, _ = _req(srv, "DELETE", "/v1/collections/c2")
    assert code == 200
    code, _ = _req(srv, "GET", "/v1/collections/c2")
    assert code == 404
    # duplicate create answers 200 + message (handlers.go:91-93)
    code, body = _req(srv, "POST", "/v1/collections", {"name": "c1", "dimension": 4})
    assert code == 200 and "message" in body


def test_document_crud_and_wrong_dim_over_http(srv):
    _req(srv, "POST", "/v1/collections", {"name": "c", "dimension": 4, "index_type": "flat"})
    code, _ = _req(srv, "POST", "/v1/collections/c/documents/batchupsert",
                   {"documents": _docs(8)})
    assert code == 200
    code, body = _req(srv, "POST", "/v1/collections/c/documents",
                      {"id": "3", "vector": [9.0, 0.0, 0.0, 0.0]})
    assert code == 200 and body["dimension"] == 4
    code, body = _req(srv, "GET", "/v1/collections/c/documents/3")
    assert code == 200 and body["vector"][0] == 9.0
    code, _ = _req(srv, "DELETE", "/v1/collections/c/documents/7")
    assert code == 200
    code, _ = _req(srv, "GET", "/v1/collections/c/documents/7")
    assert code == 404
    code, body = _req(srv, "POST", "/v1/collections/c/documents",
                      {"id": "x", "vector": [1.0, 2.0]})
    assert code == 400 and "error" in body


def test_search_routes_over_http(srv):
    _req(srv, "POST", "/v1/collections", {"name": "c", "dimension": 4, "index_type": "flat"})
    _req(srv, "POST", "/v1/collections/c/documents/batchupsert", {"documents": _docs(10)})
    code, body = _req(srv, "POST", "/v1/collections/c/vectors/search",
                      {"vector": [2.2, 0.0, 0.0, 0.0], "limit": 3})
    assert code == 200 and body["ids"] == ["2", "3", "1"]
    assert body["distances"] == sorted(body["distances"])
    code, body = _req(srv, "POST", "/v1/collections/c/documents/search",
                      {"vector": [2.2, 0.0, 0.0, 0.0], "limit": 3, "filter": {"label": "1"}})
    assert code == 200
    assert [d["id"] for d in body["documents"]] == ["3", "1", "5"]
    assert all(d["parameters"]["label"] == "1" for d in body["documents"])
    assert all(d["distance"] == dist for d, dist in zip(body["documents"], body["distances"]))
    # a filter must be a JSON object of key: value pairs; anything else is
    # a bad request, as Go's JSON bind rejects it, not a server error
    for bad in (["label"], "label", 1):
        code, body = _req(srv, "POST", "/v1/collections/c/documents/search",
                          {"vector": [2.2, 0.0, 0.0, 0.0], "limit": 3, "filter": bad})
        assert code == 400 and "filter" in body["error"], bad
    code, body = _req(srv, "POST", "/v1/collections/c/documents/search",
                      {"vector": [2.2, 0.0, 0.0, 0.0], "limit": 3, "filter": None})
    assert code == 200 and [d["id"] for d in body["documents"]] == ["2", "3", "1"]


def test_buildindex_setparams_over_http(srv):
    _req(srv, "POST", "/v1/collections",
         {"name": "c", "dimension": 4, "index_type": "ivf_flat",
          "parameters": {"nlist": "4", "nprobe": "4"}})
    code, _ = _req(srv, "POST", "/v1/collections/c/buildindex", {"documents": _docs(40)})
    assert code == 200
    code, body = _req(srv, "POST", "/v1/collections/c/vectors/search",
                      {"vector": [10.2, 0.0, 0.0, 0.0], "limit": 3})
    assert code == 200 and body["ids"] == ["10", "11", "9"]
    code, _ = _req(srv, "POST", "/v1/collections/c/documents/setparams",
                   {"parameters": {"nprobe": 2}})
    assert code == 200
    code, body = _req(srv, "GET", "/v1/collections/c")
    assert body["parameters"]["nprobe"] == "2"
    code, body = _req(srv, "POST", "/v1/collections/c/documents/setparams",
                      {"parameters": {"bogus": 1}})
    assert code == 400


def test_missing_collection_404_over_http(srv):
    code, _ = _req(srv, "POST", "/v1/collections/nope/vectors/search",
                   {"vector": [1.0], "limit": 1})
    assert code == 404
    code, _ = _req(srv, "POST", "/v1/collections/nope/documents/batchupsert",
                   {"documents": _docs(1)})
    assert code == 404
    code, _ = _req(srv, "GET", "/no/such/route")
    assert code == 404


def test_http_client_sdk_end_to_end(srv):
    """HttpOasisClient (the reference SDK's method surface over urllib)
    against our own server: full lifecycle — create, batch upsert, build,
    search, filtered search, set_params, delete — plus OasisDBError on
    missing resources."""
    import pytest

    from oasisdb_spark.http_client import HttpOasisClient, OasisDBError

    c = HttpOasisClient(f"http://127.0.0.1:{srv.port}")
    assert c.health_check()
    c.create_collection("sdk", 4, index_type="ivf_flat",
                        parameters={"nlist": "4", "nprobe": "4"})
    c.build_index("sdk", _docs(40))
    res = c.search_vectors("sdk", [10.2, 0.0, 0.0, 0.0], limit=3)
    assert res["ids"] == ["10", "11", "9"]

    docs = c.search_documents("sdk", [2.2, 0.0, 0.0, 0.0], limit=3, filter={"label": "1"})
    assert [d["id"] for d in docs["documents"]] == ["3", "1", "5"]

    c.upsert_document("sdk", doc_id="99", vector=[99.0, 0.0, 0.0, 0.0])
    got = c.get_document("sdk", "99")
    assert got["vector"][0] == 99.0 and got["dimension"] == 4

    c.set_params("sdk", {"nprobe": 2})
    assert c.get_collection("sdk")["parameters"]["nprobe"] == "2"
    assert c.list_collections()["collections"] == ["sdk"]

    c.delete_document("sdk", "99")
    with pytest.raises(OasisDBError) as ei:
        c.get_document("sdk", "99")
    assert ei.value.status_code == 404
    c.delete_collection("sdk")
    with pytest.raises(OasisDBError):
        c.get_collection("sdk")
