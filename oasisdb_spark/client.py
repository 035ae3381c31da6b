"""Drop-in client facade with the reference SDK's method surface.

Reference: client-sdk/Python/client.py (OasisDBClient) — same method
names, arguments, and response shapes (ids/distances lists, document
dicts), so code written against the reference's Python SDK ports by
swapping the constructor: HTTP server + base_url become a SparkSession
+ warehouse directory. Route mapping:

- health_check            → GET /            (handlers.go:30-34)
- create/get/list/delete_collection → /v1/collections* (S2-S5)
- upsert/batch_upsert/get/delete document → .../documents* (S6,S7,S9,S10)
- build_index             → .../buildindex (S8; like db.BuildIndex it
                            batch-upserts the given documents, then
                            builds — document.go:309-327)
- set_params              → .../documents/setparams (S11)
- search_vectors          → .../vectors/search (Q1), LRU result cache
                            in front (Q13) keyed on index_version and
                            dropped by every write to the collection
- search_documents        → .../documents/search (Q2) — here the
                            metadata filter WORKS (pre-filter pushdown;
                            the reference ignores it, design.md:58-59)

Point reads do not run on Spark: get_document, and search_vectors and
search_documents (filtered or not) on a flat, unbuilt, ivf_flat or hnsw
collection (l2, ip, cos), read the Parquet files Spark wrote on the
driver with pyarrow (search.point_search, search.point_documents), with
no Spark job. Writes, builds and the other searches run on the
SparkSession. A search_documents filter that is not a mapping raises
ErrInvalidParams.
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping, Optional, Sequence

from pyspark.sql import SparkSession

from oasisdb_spark import errors
from oasisdb_spark.cache import SearchCache
from oasisdb_spark.catalog import Catalog

__all__ = ["OasisClient"]


class OasisClient:
    """Same contract as the reference's OasisDBClient, embedded over
    Spark instead of HTTP. Context-manager enabled like the SDK."""

    def __init__(self, spark: SparkSession, warehouse: str, cache_capacity: int = 10):
        self.catalog = Catalog(spark, warehouse)
        self.cache = SearchCache(cache_capacity)

    # System / health ---------------------------------------------------
    def health_check(self) -> bool:
        return self.catalog.spark.range(1).count() == 1

    # Collections -------------------------------------------------------
    def create_collection(
        self,
        name: str,
        dimension: int,
        *,
        index_type: str = "hnsw",
        parameters: Optional[Mapping[str, str]] = None,
    ) -> dict[str, Any]:
        coll = self.catalog.create_collection(
            name, dimension, index_type=index_type, params=dict(parameters or {})
        )
        return {
            "name": coll.name,
            "dimension": coll.dimension,
            "index_type": coll.index_type,
            "parameters": coll.params,
        }

    def get_collection(self, name: str) -> dict[str, Any]:
        coll = self.catalog.get_collection(name)
        return {
            "name": coll.name,
            "dimension": coll.dimension,
            "index_type": coll.index_type,
            "parameters": coll.params,
        }

    def list_collections(self) -> list[dict[str, Any]]:
        return [self.get_collection(n) for n in self.catalog.list_collections()]

    def delete_collection(self, name: str) -> None:
        self.catalog.delete_collection(name)
        self.cache.invalidate_prefix(name)

    # Documents ---------------------------------------------------------
    def _docs_df(self, documents: Iterable[Mapping[str, Any]]):
        rows = []
        for doc in documents:
            if "id" not in doc or "vector" not in doc:
                raise ValueError("Each document must contain 'id' and 'vector'.")
            params = {str(k): str(v) for k, v in (doc.get("parameters") or {}).items()}
            rows.append((str(doc["id"]), [float(x) for x in doc["vector"]], params))
        return self.catalog.spark.createDataFrame(
            rows, "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>"
        )

    def upsert_document(
        self,
        collection: str,
        *,
        doc_id: str,
        vector: Sequence[float],
        parameters: Optional[Mapping[str, Any]] = None,
    ) -> dict[str, Any]:
        self._upsert_and_index(
            collection,
            self._docs_df([{"id": doc_id, "vector": vector, "parameters": parameters}]),
        )
        return {"id": str(doc_id)}

    def batch_upsert_documents(
        self, collection: str, documents: Iterable[Mapping[str, Any]]
    ) -> None:
        self._upsert_and_index(collection, self._docs_df(documents))

    def _upsert_and_index(self, collection: str, docs) -> None:
        """Reference upsert also adds the vector to the live index
        (db/document.go:53-92 → index_manager.go:441-470 AddVector); the
        parity here is upsert + incremental add-after-build. Ids already
        in the built index keep their built vector until the next
        build_index (documented staleness semantics, SURVEY.md §4).
        add_to_index keeps index_version, so the collection's cached
        results are dropped here: the next search sees the write."""
        from oasisdb_spark.search import add_to_index

        self.catalog.upsert_documents(collection, docs)
        add_to_index(self.catalog, collection, docs)
        self.cache.invalidate_prefix(collection)

    def get_document(self, collection: str, doc_id: str) -> dict[str, Any]:
        row = self.catalog.get_document(collection, doc_id)
        return {
            "id": row["id"],
            "vector": list(row["vector"] or []),
            "parameters": dict(row["parameters"] or {}),
        }

    def delete_document(self, collection: str, doc_id: str) -> None:
        self.catalog.delete_document(collection, doc_id)
        self.cache.invalidate_prefix(collection)

    # Index building ----------------------------------------------------
    def build_index(
        self, collection: str, documents: Iterable[Mapping[str, Any]] = ()
    ) -> None:
        from oasisdb_spark.search import build_index

        docs = list(documents)
        if docs:
            self.batch_upsert_documents(collection, docs)
        build_index(self.catalog, collection)

    def set_params(self, collection: str, parameters: Mapping[str, Any]) -> None:
        self.catalog.set_params(collection, dict(parameters))
        self.cache.invalidate_prefix(collection)  # results under the old knobs

    # Search ------------------------------------------------------------
    def search_vectors(
        self, collection: str, vector: Sequence[float], *, limit: int = 10
    ) -> dict[str, Any]:
        from oasisdb_spark.search import cached_search_vectors

        rows = cached_search_vectors(
            self.catalog, collection, list(vector), limit, self.cache
        )
        return {
            "ids": [r[0] for r in rows],
            "distances": [float(r[1]) for r in rows],
        }

    def search_documents(
        self,
        collection: str,
        vector: Sequence[float],
        *,
        limit: int = 10,
        filter: Optional[Mapping[str, Any]] = None,
    ) -> dict[str, Any]:
        from oasisdb_spark.search import filter_predicate, point_documents, search_documents

        if filter is not None and not isinstance(filter, Mapping):
            raise errors.ErrInvalidParams(f"filter must be an object, got {type(filter).__name__}")
        rows = point_documents(self.catalog, collection, list(vector), limit, filter)
        if rows is None:
            q = self.catalog.spark.createDataFrame(
                [(0, [float(x) for x in vector])], "query_id INT, query_vec ARRAY<FLOAT>"
            )
            pred = filter_predicate(filter)
            rows = [
                (r["id"], r["distance"], r["rank"], r["vector"], r["parameters"])
                for r in search_documents(self.catalog, collection, q, limit, metadata_filter=pred)
                .orderBy("rank")
                .collect()
            ]
        return {
            "documents": [
                {"id": i, "vector": list(vec or []), "parameters": dict(params or {})}
                for i, _, _, vec, params in rows
            ],
            "distances": [float(r[1]) for r in rows],
        }

    # Helpers -----------------------------------------------------------
    def close(self) -> None:
        pass  # no connection state; Spark session is owned by the caller

    def __enter__(self) -> "OasisClient":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()
