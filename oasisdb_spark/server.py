"""REST façade over OasisClient — the reference's HTTP surface.

Reference: internal/server/server.go:25-39 (route table) and
handlers.go:30-354 (request/response JSON shapes). Every route maps 1:1:

    GET    /                                            health check
    POST   /v1/collections                              create collection
    GET    /v1/collections                              list collections
    GET    /v1/collections/{name}                       get collection
    DELETE /v1/collections/{name}                       delete collection
    POST   /v1/collections/{name}/buildindex            upsert docs + build
    POST   /v1/collections/{name}/documents             upsert document
    POST   /v1/collections/{name}/documents/batchupsert batch upsert
    POST   /v1/collections/{name}/documents/setparams   set search params
    GET    /v1/collections/{name}/documents/{id}        get document
    DELETE /v1/collections/{name}/documents/{id}        delete document
    POST   /v1/collections/{name}/vectors/search        kNN → ids/distances
    POST   /v1/collections/{name}/documents/search      kNN → documents
                                                        (filter WORKS here;
                                                        the reference accepts
                                                        and ignores it,
                                                        design.md:58-59)

Built on the stdlib ThreadingHTTPServer — a thin serving shell, not a
scale path. Reads do not run on Spark: a vector search or a document
search (filtered or not) on a flat, unbuilt, ivf_flat or hnsw
collection, and a document get, read the Parquet files Spark wrote on
the driver (search.point_search, search.point_documents,
Catalog.get_document) and run no Spark job. Writes, index builds, and
searches of built ivfpq / ivfsq / binq or hamming collections execute
on the embedded SparkSession. A single driver-side lock still
serializes every request, reads included (the wait for it is what
perfbench reports as server.lock_wait_ms). For production serving you'd
put the same OasisClient behind a real ASGI server; the contract is
what's tested.

Error mapping (handlers.go parity): unknown collection/document → 404,
malformed JSON / invalid params (a documents/search "filter" that is not
a JSON object included) → 400, everything else → 500.
"""

from __future__ import annotations

import json
from urllib.parse import unquote
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from oasisdb_spark import errors
from oasisdb_spark.client import OasisClient

__all__ = ["OasisServer", "serve"]

_DOC_RE = re.compile(r"^/v1/collections/([^/]+)/documents/([^/]+)$")
_COLL_RE = re.compile(r"^/v1/collections/([^/]+)$")


class OasisServer:
    """Serves an OasisClient over HTTP on 127.0.0.1:port (port=0 picks a
    free port; see .port). start()/shutdown(), or use as a context
    manager."""

    def __init__(self, client: OasisClient, port: int = 0):
        self.client = client
        self._lock = threading.Lock()
        handler = _make_handler(self)
        self.httpd = ThreadingHTTPServer(("127.0.0.1", port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "OasisServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "OasisServer":
        return self.start()

    def __exit__(self, exc_type, exc, tb) -> None:
        self.shutdown()


def serve(client: OasisClient, port: int = 8080) -> None:
    """Blocking serve loop (the reference's Server.Run equivalent)."""
    srv = OasisServer(client, port=port)
    try:
        srv.httpd.serve_forever()
    finally:
        srv.httpd.server_close()


def _make_handler(srv: OasisServer):
    client = srv.client

    class Handler(BaseHTTPRequestHandler):
        # quiet by default; the access log is not the product
        def log_message(self, fmt, *args):  # noqa: D102
            pass

        def _json(self, code: int, payload=None) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            if payload is not None:
                self.wfile.write(json.dumps(payload).encode())

        def _body(self):
            length = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(length) if length else b"{}"
            return json.loads(raw or b"{}")

        def _dispatch(self, method: str) -> None:
            try:
                with srv._lock:
                    self._route(method)
            except (errors.ErrCollectionNotFound, errors.ErrDocumentNotFound) as e:
                self._json(404, {"error": str(e) or e.__class__.__name__})
            except (
                json.JSONDecodeError,
                KeyError,
                ValueError,
                errors.ErrInvalidParams,
                errors.ErrInvalidCollectionName,
                errors.ErrInvalidDimension,
                errors.ErrDimensionMismatch,
            ) as e:
                self._json(400, {"error": str(e) or e.__class__.__name__})
            except errors.ErrCollectionExists as e:
                # handlers.go:91-93: duplicate create answers 200 + message
                self._json(200, {"message": str(e) or "collection exists"})
            except Exception as e:  # noqa: BLE001 — handlers.go 500 fallback
                self._json(500, {"error": str(e)})

        def _route(self, method: str) -> None:
            path = self.path.rstrip("/") or "/"
            if method == "GET" and path == "/":
                self._json(200, {"status": "ok"})
                return
            if path == "/v1/collections":
                if method == "POST":
                    req = self._body()
                    out = client.create_collection(
                        req["name"],
                        int(req["dimension"]),
                        index_type=req.get("index_type", "hnsw"),
                        parameters=req.get("parameters") or {},
                    )
                    self._json(200, out)
                elif method == "GET":
                    names = [c["name"] for c in client.list_collections()]
                    self._json(200, {"collections": names, "count": len(names)})
                else:
                    self._json(405, {"error": "method not allowed"})
                return
            m = _COLL_RE.match(path)
            if m:
                name = unquote(m.group(1))
                if method == "GET":
                    self._json(200, client.get_collection(name))
                elif method == "DELETE":
                    client.delete_collection(name)
                    self._json(200)
                else:
                    self._json(405, {"error": "method not allowed"})
                return
            if method == "POST" and path.endswith("/buildindex"):
                name = unquote(path.split("/")[3])
                req = self._body()
                client.build_index(name, req.get("documents") or [])
                self._json(200)
                return
            if method == "POST" and path.endswith("/documents/batchupsert"):
                name = unquote(path.split("/")[3])
                client.batch_upsert_documents(name, self._body()["documents"])
                self._json(200)
                return
            if method == "POST" and path.endswith("/documents/setparams"):
                name = unquote(path.split("/")[3])
                client.set_params(name, self._body()["parameters"])
                self._json(200)
                return
            if method == "POST" and path.endswith("/vectors/search"):
                name = unquote(path.split("/")[3])
                req = self._body()
                self._json(200, client.search_vectors(name, req["vector"], limit=int(req.get("limit", 10))))
                return
            if method == "POST" and path.endswith("/documents/search"):
                name = unquote(path.split("/")[3])
                req = self._body()
                out = client.search_documents(
                    name, req["vector"], limit=int(req.get("limit", 10)), filter=req.get("filter"),
                )
                for d, dist in zip(out["documents"], out["distances"]):
                    d["dimension"] = len(d["vector"])
                    d["distance"] = dist  # handlers.go:287-295 row shape
                self._json(200, out)
                return
            if method == "POST" and path.endswith("/documents"):
                name = unquote(path.split("/")[3])
                req = self._body()
                doc_id = req["id"]
                vector = req["vector"]
                client.upsert_document(
                    name, doc_id=doc_id, vector=vector, parameters=req.get("parameters") or {}
                )
                self._json(200, {
                    "id": str(doc_id),
                    "vector": [float(x) for x in vector],
                    "parameters": {str(k): str(v) for k, v in (req.get("parameters") or {}).items()},
                    "dimension": len(vector),
                })
                return
            m = _DOC_RE.match(path)
            if m:
                name, doc_id = unquote(m.group(1)), unquote(m.group(2))
                if method == "GET":
                    doc = client.get_document(name, doc_id)
                    doc["dimension"] = len(doc["vector"])
                    self._json(200, doc)
                elif method == "DELETE":
                    client.delete_document(name, doc_id)  # a missing id raises → 404
                    self._json(200)
                else:
                    self._json(405, {"error": "method not allowed"})
                return
            self._json(404, {"error": f"no route for {method} {path}"})

        def do_GET(self):  # noqa: N802
            self._dispatch("GET")

        def do_POST(self):  # noqa: N802
            self._dispatch("POST")

        def do_DELETE(self):  # noqa: N802
            self._dispatch("DELETE")

    return Handler


def main(argv=None) -> None:
    """CLI entrypoint (the reference's cmd/main.go):
    python -m oasisdb_spark.server --warehouse ./wh --port 8080"""
    import argparse

    from oasisdb_spark.session import get_spark

    ap = argparse.ArgumentParser(description="OasisDB-on-Spark REST server")
    ap.add_argument("--warehouse", required=True, help="collection warehouse directory")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--cache-capacity", type=int, default=10)
    args = ap.parse_args(argv)

    spark = get_spark("oasisdb_spark_server")
    client = OasisClient(spark, args.warehouse, cache_capacity=args.cache_capacity)
    print(f"oasisdb_spark serving on http://127.0.0.1:{args.port} (warehouse: {args.warehouse})")
    serve(client, port=args.port)


if __name__ == "__main__":
    main()
