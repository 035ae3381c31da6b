"""Search surface: build_index / search_vectors / search_documents.

Reference mapping:
- build_index       → POST .../buildindex (S8; index_manager.go:473-502)
- search_vectors    → POST .../vectors/search (Q1; handlers.go:36-74,
                      db/document.go:136-168)
- search_documents  → POST .../documents/search (Q2; handlers.go:261-303,
                      document.go:171-247). The reference ACCEPTS a
                      metadata filter but IGNORES it (the `filter` param
                      at document.go:171 is never referenced; confirmed
                      unimplemented in docs/design.md:58-59). Here the
                      filter is real and applied as a PRE-filter pushed
                      below the kNN — candidates are restricted before
                      distance computation, so the filter prunes the
                      scan instead of post-truncating results.
- set_params        → catalog.set_params (S11); efsearch maps to nprobe
                      for the hnsw tier (SURVEY.md Q6: efsearch⇒nprobe).

Queries always run against the last BUILT index version (catalog
index_version pinning) — the snapshot-isolation semantic the reference
leaves undefined (SURVEY.md §4 concurrency notes).

Spark builds the index; one query vector (cached_search_vectors and
OasisClient.search_documents, the serving paths) is answered on the
driver from the Parquet files Spark wrote, by point_search and
point_documents, with no Spark job, filtered or not. The DataFrame API
(search_vectors, search_documents) stays on Spark, and so do the tiers
and spaces the point path does not cover (_point_query).
"""

from __future__ import annotations

import math
import os
import shutil
from typing import Any, Callable, Mapping, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oasisdb_spark import errors
from oasisdb_spark.catalog import Catalog, Collection
from oasisdb_spark.index.binq import append_binq, build_binq, knn_binq, load_binq
from oasisdb_spark.index.ivf import append_ivf, build_ivf, knn_ivf, load_ivf, probed_lists
from oasisdb_spark.index.ivfpq import append_ivfpq, build_ivfpq, knn_ivfpq, load_ivfpq
from oasisdb_spark.index.ivfsq import append_ivfsq, build_ivfsq, knn_ivfsq, load_ivfsq
from oasisdb_spark.index.kernels import point_topk
from oasisdb_spark.pipeline import ann

__all__ = [
    "build_index",
    "add_to_index",
    "search_vectors",
    "search_documents",
    "point_search",
    "point_documents",
    "filter_predicate",
    "cached_search_vectors",
]


class _Search(NamedTuple):
    """What an indexed search needs besides queries, index and k."""

    params: dict
    space: str
    refine_base: DataFrame  # the collection's (id, vector) rows
    id_filter: DataFrame | None


class _Tier(NamedTuple):
    """One index type (the reference's VectorIndex, index.go:22-52).

    build(data, out_dir, params) writes the index files; load(spark,
    out_dir) reads them back as the tuple the tier's knn function takes
    before k — (model..., lists), where the model is numpy arrays for
    every tier (IVF centroids; IVF-PQ centroids and codebooks; IVF-SQ
    centroids and ranges; binq means) and lists is a DataFrame;
    add(docs, out_dir, *model) appends docs to the lists against that
    model; search(queries, index, k, _Search) runs the kNN.
    point(out_dir, q, params, keep) gives the candidate (id, vector)
    rows of one float32 query as a pyarrow Table read on the driver,
    keep masking them by id; a tier without it has no point path. Flat
    keeps no index files (the collection IS the index, flat.go:14-20),
    so it has only build, and its searches take the exact scan."""

    build: Callable
    load: Callable | None = None
    add: Callable | None = None
    search: Callable | None = None
    point: Callable | None = None


def _nlist(params: dict, data: DataFrame) -> int:
    return _resolve_nlist(params.get("nlist", "100"), data.count())


def _nprobe(params: dict) -> int:
    return int(params.get("nprobe", "10"))  # the knn functions cap at nlist


def _efsearch_nprobe(params: dict) -> int:
    # efsearch⇒nprobe mapping: scan roughly efsearch/ef_default
    # fraction of lists, floor 1 (SURVEY.md §7 phase 3.5)
    return max(1, int(params.get("efsearch", "10")) // 2)


def _ivf_tier(nprobe: Callable[[dict], int]) -> _Tier:
    return _Tier(
        build=lambda data, d, p: build_ivf(data, nlist=_nlist(p, data), out_dir=d),
        load=load_ivf,
        add=append_ivf,
        search=lambda q, index, k, s: knn_ivf(
            q, *index, k, nprobe=nprobe(s.params), space=s.space, id_filter=s.id_filter
        ),
        point=lambda d, q, p, keep: probed_lists(d, q, nprobe(p), keep),
    )


# The one dispatch on index_type. The build and search entries look the
# tier functions up by their names in this module at call time, so a
# wrapper installed on, say, search.knn_ivf sees every call.
_TIERS = {
    "flat": _Tier(build=lambda data, d, p: os.makedirs(d, exist_ok=True)),
    "ivf_flat": _ivf_tier(_nprobe),
    # hnsw tier = IVF tables with an nprobe preset derived from efsearch
    "hnsw": _ivf_tier(_efsearch_nprobe),
    "ivfpq": _Tier(
        build=lambda data, d, p: build_ivfpq(
            data, nlist=_nlist(p, data), m=int(p.get("m", "8")), out_dir=d
        ),
        load=load_ivfpq,
        add=append_ivfpq,
        search=lambda q, index, k, s: knn_ivfpq(
            q, *index, k, nprobe=_nprobe(s.params), space=s.space, refine_base=s.refine_base,
            refine_factor=int(s.params.get("refine_factor", "4")), id_filter=s.id_filter,
        ),
    ),
    "ivfsq": _Tier(
        build=lambda data, d, p: build_ivfsq(data, nlist=_nlist(p, data), out_dir=d),
        load=load_ivfsq,
        add=append_ivfsq,
        search=lambda q, index, k, s: knn_ivfsq(
            q, *index, k, nprobe=_nprobe(s.params), space=s.space,
            refine_base=s.refine_base if s.params.get("refine_factor") else None,
            refine_factor=int(s.params.get("refine_factor", "4")), id_filter=s.id_filter,
        ),
    ),
    "binq": _Tier(
        build=lambda data, d, p: build_binq(data, out_dir=d),
        load=load_binq,
        add=append_binq,
        search=lambda q, index, k, s: knn_binq(
            q, *index, k, refine_base=s.refine_base,
            refine_factor=int(s.params.get("refine_factor", "8")), space=s.space,
            id_filter=s.id_filter,
        ),
    ),
}


def _tier(index_type: str) -> _Tier:
    try:
        return _TIERS[index_type]
    except KeyError:
        raise errors.ErrInvalidParams(f"unknown index type {index_type!r}") from None


def build_index(catalog: Catalog, name: str) -> int:
    """Build the collection's index tables and bump index_version.
    Returns the new version."""
    coll = catalog.get_collection(name)
    tier = _tier(coll.index_type)
    data = catalog.read_documents(name)
    version = coll.index_version + 1
    tier.build(data, catalog.index_path(name, version), coll.params)
    catalog.bump_index_version(name)
    # snapshot GC (reference deletes superseded snapshots after save,
    # index_manager.go:387-438): keep the new version plus its
    # predecessor for in-flight readers pinned to the old version;
    # everything older is unreachable (searches always resolve the
    # catalog's current version) and is removed.
    for v in range(1, version - 1):
        shutil.rmtree(catalog.index_path(name, v), ignore_errors=True)
    return version


def _resolve_nlist(param: str, n_rows: int) -> int:
    """nlist='auto' → ~sqrt(N) (the standard IVF sizing: probe work and
    list length both scale as sqrt; SCALING.md — nlist must grow with N
    for per-query candidate volume to stay flat). Always clamped to
    [1, n_rows]; the explicit-int path preserves the reference's
    fixed-nlist behavior (const.go:26-30)."""
    if str(param).lower() == "auto":
        nlist = int(math.sqrt(max(n_rows, 1)))
    else:
        nlist = int(param)
    return max(1, min(nlist, max(n_rows, 1)))


def add_to_index(catalog: Catalog, name: str, docs: DataFrame) -> None:
    """Incremental add-after-build (S6/S8 write path between rebuilds;
    reference Add/AddBatch on a trained index, ivf.go:99-127 /
    ivf_test.go:96 add-after-train): assign/encode the new vectors
    against the CURRENT index version's centroids and append to its
    inverted lists — no retrain, no version bump (the reference's Add
    mutates the live index the same way; files stay immutable, only the
    list directory grows). Call upsert_documents first for the document
    store; periodic build_index remains the centroid-refresh/compaction
    analogue. Flat collections need nothing (the collection IS the
    index); unbuilt collections need nothing (searches scan current
    data)."""
    coll = catalog.get_collection(name)
    tier = _tier(coll.index_type)
    if coll.index_version == 0 or tier.add is None:
        return
    d = catalog.index_path(name, coll.index_version)
    *model, lists = tier.load(catalog.spark, d)
    # genuinely-new ids only: an id already in the lists keeps its built
    # vector until the next rebuild (documented upsert-staleness
    # semantics) — appending it again would duplicate it in the index
    tier.add(docs.join(lists.select("id"), on="id", how="left_anti"), d, *model)


def _without_tombstones(catalog: Catalog, name: str, lists: DataFrame) -> DataFrame:
    """Exclude ids deleted since the index was built. The tombstone set
    is tiny (deletes between rebuilds), so the anti-join broadcasts —
    the indexed scan never shuffles. Rebuilds clear the set."""
    ts = catalog.read_tombstones(name)
    if ts is None:
        return lists
    return lists.join(F.broadcast(ts.select("id")), on="id", how="left_anti")


def search_vectors(
    catalog: Catalog,
    name: str,
    queries: DataFrame,
    k: int,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Top-k kNN against a collection → (query_id, id, distance, rank).

    candidates: optional pre-filtered subset of the collection (used by
    search_documents' pre-filter pushdown).
    """
    coll = catalog.get_collection(name)
    tier = _tier(coll.index_type)
    data = candidates if candidates is not None else catalog.read_documents(name)
    if coll.index_version == 0 or tier.search is None or (candidates is not None and coll.space == "hamming"):
        # no built index (search-before-build sees current data — strictly
        # better than the reference's partial-data race, SURVEY.md §4) →
        # exact scan; hamming keeps the brute path under filters too (its
        # IVF lists store packed bits the semi-join would re-read anyway).
        # Batched kernels for every space (base scanned once, no pair
        # materialization — the only exact strategy that survives large
        # collections; see RECALL.md): GEMM for l2/ip/cos, XOR-popcount
        # over packed bits for hamming.
        return ann.knn_brute_batched(queries, data, k, space=coll.space)
    # Filtered ANN: a metadata pre-filter no longer forfeits the index —
    # the filtered id set semi-joins the candidates AFTER probe pruning
    # (id_filter in knn_ivf/knn_ivfsq/knn_ivfpq), so the filter costs
    # |probed candidates|, not an index reshuffle. Exactness under a
    # filter matches the index's usual contract (exact at nprobe=nlist).
    id_filter = candidates.select("id") if candidates is not None else None
    *model, lists = tier.load(catalog.spark, catalog.index_path(name, coll.index_version))
    index = (*model, _without_tombstones(catalog, name, lists))
    return tier.search(queries, index, k, _Search(coll.params, coll.space, data, id_filter))


def _point_query(coll: Collection, query_vec: list[float]) -> np.ndarray | None:
    """The query as the float32 vector the Spark path's ARRAY<FLOAT>
    frame holds, or None where the collection has no point path for it:
    built ivfpq, ivfsq and binq, the hamming space, or a query of the
    wrong dimension."""
    tier = _tier(coll.index_type)
    q = np.asarray(query_vec, dtype=np.float32)
    if coll.space == "hamming" or q.shape != (coll.dimension,):
        return None
    if coll.index_version > 0 and tier.search is not None and tier.point is None:
        return None
    return q


def _point_hits(
    catalog: Catalog, coll: Collection, gen: str | None, q: np.ndarray, k: int, ids: pa.Array | None
) -> list[tuple[str, float, int]]:
    """The driver core of point_search and point_documents: one
    float32 query's (id, distance, rank) top-k, with the candidates
    limited to ids when given (a metadata filter's, as search_vectors'
    candidates limit them). Flat and unbuilt collections scan the data
    generation gen; the IVF tiers (ivf_flat, hnsw) read their probed
    lists (_Tier.point), minus the tombstones. kernels.point_topk scores
    every candidate by the in-order fold and orders by (distance, id)."""
    tier = _tier(coll.index_type)
    keep = None if ids is None else ds.field("id").isin(ids)
    if coll.index_version == 0 or tier.search is None:
        rows = catalog.arrow_generation(gen, ["id", "vector"], keep)
    else:
        deleted = catalog.tombstone_ids(coll.name)
        if deleted:
            live = ~ds.field("id").isin(deleted)
            keep = live if keep is None else keep & live
        rows = tier.point(catalog.index_path(coll.name, coll.index_version), q, coll.params, keep)
    return point_topk(q, rows, k, coll.space)


def point_search(catalog: Catalog, name: str, query_vec: list[float], k: int) -> list[tuple[str, float, int]] | None:
    """One query vector's top-k on the driver, with no Spark job: the
    (id, distance, rank) rows that search_vectors(...).collect() gives
    for it as an ARRAY<FLOAT> query (so the vector is rounded to float32
    first), equal in ids, ranks and distances. None where there is no
    point path (_point_query), and the caller runs search_vectors
    instead."""
    coll = catalog.get_collection(name)
    q = _point_query(coll, query_vec)
    if q is None:
        return None
    return _point_hits(catalog, coll, catalog.data_generation(name), q, k, None)


def filter_predicate(filter: Mapping[str, Any] | None) -> Column | None:
    """The Spark predicate of a search_documents filter, {key: value}:
    parameters[key] == str(value) for every key (a NULL map or a missing
    key drops the row); None for no filter. point_documents applies the
    same predicate with pyarrow."""
    pred = None
    for key, value in (filter or {}).items():
        c = F.col("parameters").getItem(str(key)) == str(value)
        pred = c if pred is None else pred & c
    return pred


def point_documents(
    catalog: Catalog, name: str, query_vec: list[float], k: int, filter: Mapping[str, Any] | None = None
) -> list[tuple[str, float, int, list[float], dict | None]] | None:
    """search_documents for one query vector on the driver, with no
    Spark job: the (id, distance, rank, vector, parameters) rows of
    search_documents(...).orderBy("rank").collect() with the metadata
    filter filter_predicate(filter). None where point_search has no path
    either.

    One data generation answers the whole call: the filter's ids, the
    flat scan, and the hits' vector and parameters. As on Spark, a built
    index's distances come from its lists while the vector comes from
    the document store (an id upserted again since the build keeps its
    built distance), and a hit with no document row is dropped, ranks
    unchanged."""
    coll = catalog.get_collection(name)
    q = _point_query(coll, query_vec)
    if q is None:
        return None
    gen = catalog.data_generation(name)
    ids = None
    if filter:
        meta = catalog.arrow_generation(gen, ["id", "parameters"])
        match = None
        for key, value in filter.items():
            m = pc.equal(pc.map_lookup(meta["parameters"], str(key), "first"), str(value))
            match = m if match is None else pc.and_(match, m)
        ids = meta["id"].filter(match).combine_chunks()  # a NULL match drops the row
    hits = _point_hits(catalog, coll, gen, q, k, ids)
    if not hits:
        return []
    docs = catalog.arrow_generation(gen, filter=ds.field("id").isin([h[0] for h in hits])).to_pylist()
    by_id = {d["id"]: d for d in docs}
    rows = []
    for i, dist, rank in hits:
        if i in by_id:  # the inner join drops a hit with no document row
            params = by_id[i]["parameters"]  # Arrow gives a map as (key, value) pairs
            rows.append((i, dist, rank, by_id[i]["vector"], None if params is None else dict(params)))
    return rows


def cached_search_vectors(
    catalog: Catalog,
    name: str,
    query_vec: list[float],
    k: int,
    cache,
) -> list:
    """Q13 result-cache path for the reference's serving pattern
    (handlers.go:46-54: one query vector per request, cache consulted
    before the index). Returns collected (id, distance, rank) rows: from
    point_search where it has a path, else from search_vectors on Spark.

    The cache key includes the collection's index_version, so results
    can never be stale after a rebuild; writes that keep the version
    (upserts, deletes, set_params) must invalidate_prefix the cache, as
    OasisClient does — the safety the reference lacks (SURVEY.md Q13).
    Use plain search_vectors for batch
    query DataFrames; caching collected results only makes sense for
    repeated point lookups."""
    coll = catalog.get_collection(name)
    key = cache.key(name, coll.index_version, [float(x) for x in query_vec], k)
    hit = cache.get(key)
    if hit is not None:
        return hit
    rows = point_search(catalog, name, query_vec, k)
    if rows is None:
        q = catalog.spark.createDataFrame(
            [(0, [float(x) for x in query_vec])], "query_id INT, query_vec ARRAY<FLOAT>"
        )
        rows = [(r["id"], r["distance"], r["rank"]) for r in search_vectors(catalog, name, q, k).collect()]
    cache.put(key, rows)
    return rows


def search_documents(
    catalog: Catalog,
    name: str,
    queries: DataFrame,
    k: int,
    metadata_filter: Column | None = None,
) -> DataFrame:
    """kNN + join documents back (document.go:171-247 — but done as one
    join, not the reference's per-id GetDocument loop) with a WORKING
    metadata filter.

    The filter is a pre-filter: filter the collection, then kNN over the
    survivors — top-k is correct under the predicate. With a built
    non-flat index the filter pushes INTO the index as a post-probe
    semi-join (filtered ANN: costs |probed candidates|, exact at
    nprobe=nlist); without one it's an exact brute scan.
    """
    data = catalog.read_documents(name)
    candidates = data.filter(metadata_filter) if metadata_filter is not None else None
    hits = search_vectors(catalog, name, queries, k, candidates=candidates)
    return hits.join(data, on="id").select("query_id", "id", "distance", "rank", "vector", "parameters")
