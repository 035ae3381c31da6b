"""IVF-Flat: inverted-file index with coarse quantization.

Reference: internal/index/ivf.go —
- Train: k-means over the data (ivf.go:99-127,317-377)
- Add: assign each vector to its nearest centroid's inverted list
  (ivf.go:304-315 closestCentroid)
- Search: rank centroids by distance to the query (ivf.go:186-195), scan
  the nprobe nearest lists (ivf.go:197-209), sort candidates, take k
  (ivf.go:211-227).

Spark design (SURVEY.md §4 row 1):
- The index is a DataFrame (cluster_id, id, vector) written PARTITIONED
  BY cluster_id, plus a tiny centroids table, read back on the driver as
  an (nlist, dim) numpy array. Partitioning by cluster_id is the
  inverted list: a probe of p clusters reads only p/nlist of the
  data — partition pruning does at scan time what the reference's
  in-memory list indirection does in RAM.
- Assignment and probe-selection are vectorized numpy against BROADCAST
  centroids inside mapInPandas (nlist x dim floats ~ KBs) — no shuffle,
  no nlist-fold row blowup.
- The search is then an equi-join (query x probed cluster_id) against
  the partition-pruned index table + the same top-k window as flat.
  Shuffle volume is bounded by candidates-after-pruning, i.e. ~nprobe/
  nlist of the base table per query batch.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasisdb_spark.functions.distance import SPACES, distance_expr
from oasisdb_spark.index.flat import topk_per_query
from oasisdb_spark.index.kernels import arrow_matrix, block_topk, nearest_centroids
from oasisdb_spark.index.kernels import per_query_batch, refine_exact, scored_schema, write_lists
from oasisdb_spark.index.kmeans import kmeans_fit

__all__ = ["train_centroids", "assign_clusters", "build_ivf", "load_ivf", "read_centroids", "probed_lists", "append_ivf", "knn_ivf", "knn_ivf_cogrouped", "knn_probed", "rank_probes", "deterministic_sample", "ivf_search_stats"]

DEFAULT_NLIST = 100  # const.go:26-30
DEFAULT_NPROBE = 10
TRAIN_SAMPLE_CAP = 200_000  # rows collected to the driver for kmeans fit

# One inverted list's files as the driver reads them: an explicit schema,
# so no footer is needed to know it (cluster_id is the directory name).
_LIST_SCHEMA = pa.schema([("id", pa.string()), ("vector", pa.list_(pa.float32()))])


def train_centroids(
    base: DataFrame, nlist: int, vec_col: str = "vector", sample_cap: int | None = None
) -> np.ndarray:
    """Fit coarse centroids on a deterministic UNBIASED sample: rows
    whose content hash falls under cap/n of the hash space (xxhash64 of
    the vector — reproducible across runs/partitionings, no storage-
    order bias; the reference trains on first-k rows, ivf.go:321-328,
    which skews centroids toward ingest order). Returns (nlist, dim)
    float32.

    sample_cap defaults to min(TRAIN_SAMPLE_CAP, 256·nlist) — ~256
    training points per centroid is the standard coarse-quantizer
    budget (what FAISS recommends); more rows sharpen centroids
    negligibly while the fit cost grows linearly."""
    if sample_cap is None:
        sample_cap = min(TRAIN_SAMPLE_CAP, max(10_000, 256 * nlist))
    n = base.count()
    sample = deterministic_sample(base.select(vec_col), n, sample_cap, vec_col)
    x = np.array(sample.toPandas()[vec_col].tolist(), dtype=np.float32)
    return kmeans_fit(x, nlist)


def deterministic_sample(df: DataFrame, n: int, cap: int, vec_col: str) -> DataFrame:
    """~cap rows chosen by content hash: the threshold ALONE defines the
    sample (no trailing .limit, whose partition-order dependence would
    make trained centroids/SQ ranges vary across runs — round-2 advisory
    fix), so membership is a pure function of row content:
    deterministic, partitioning-independent, unbiased wrt storage order.
    Yields ~cap rows in expectation (training is insensitive to a few %
    jitter). The filter runs distributed; only the survivors move."""
    if n <= cap:
        return df
    space = 1 << 20
    thresh = min(space, int(space * (cap / n)) + 1)
    return df.where(F.pmod(F.xxhash64(F.col(vec_col)), F.lit(space)) < thresh)


def _centroid_matrix(centroids_df: DataFrame) -> np.ndarray:
    """The centroids table as an (nlist, dim) float32 array, by cluster_id."""
    return np.array(
        [r["centroid"] for r in centroids_df.orderBy("cluster_id").collect()], dtype=np.float32
    )


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Nearest-centroid assignment (ivf.go:304-315) as a vectorized
    Arrow-batched map — one pass over the data, centroids broadcast."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids, dtype=np.float32))
    schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.IntegerType(), False)])
    cols = df.columns

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = np.array([], dtype=np.int32)
                yield pdf
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float32)
            pdf = pdf.copy()
            pdf[out_col] = nearest_centroids(x, bc.value).astype(np.int32)
            yield pdf

    return df.mapInPandas(_map, schema=schema).select(*cols, out_col)


def build_ivf(
    base: DataFrame,
    nlist: int = DEFAULT_NLIST,
    id_col: str = "id",
    vec_col: str = "vector",
    out_dir: str | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """Index build (S8 / ivf.go Train+AddBatch): returns
    (centroids (nlist, dim) float32, index_df(cluster_id, id, vector)).
    If out_dir is given, both are persisted — a centroids(cluster_id,
    centroid) table, and the index partitioned by cluster_id (the
    on-disk inverted lists)."""
    spark = base.sparkSession
    centroids = train_centroids(base, nlist, vec_col)
    index_df = assign_clusters(
        base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector")), centroids
    )
    if out_dir:
        spark.createDataFrame(
            [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
            "cluster_id INT, centroid ARRAY<FLOAT>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
        write_lists(index_df, os.path.join(out_dir, "lists"), "overwrite")
        return load_ivf(spark, out_dir)
    return centroids, index_df


def load_ivf(spark: SparkSession, out_dir: str) -> tuple[np.ndarray, DataFrame]:
    """Read back the index build_ivf wrote to out_dir: the same
    (centroids, index_df) pair build_ivf returns."""
    return read_centroids(out_dir), spark.read.parquet(os.path.join(out_dir, "lists"))


def read_centroids(out_dir: str) -> np.ndarray:
    """The (nlist, dim) float32 centroids of the index at out_dir, by
    cluster_id. The table is a few KB, so pyarrow reads it on the
    driver — no Spark job."""
    t = pq.read_table(os.path.join(out_dir, "centroids"))
    order = np.argsort(t.column("cluster_id").to_numpy())
    return arrow_matrix(t.column("centroid"), len(t.column("centroid")[0]))[order]


def probed_lists(out_dir: str, q: np.ndarray, nprobe: int, keep: ds.Expression | None = None) -> pa.Table:
    """The (id, vector) rows of one float32 query's probed lists, read
    on the driver with pyarrow — no Spark job. The probes are
    rank_probes' for the same query and centroids, and keep, a row
    filter on id, masks the rest (the tombstones).

    Only the probed cluster_id=N/ directories are listed, and only
    their data files read (Spark's rule: names starting with _ or . are
    not data). A discovery walk over the whole lists/ directory would
    also descend into the _temporary/ tree of a concurrent append_ivf,
    which its commit deletes under the walk (FileNotFoundError); the
    cluster directories themselves only ever gain whole files."""
    centroids = read_centroids(out_dir)
    probes = nearest_centroids(q[None, :], centroids, min(nprobe, len(centroids)))[0]
    files = []
    for c in probes:
        d = os.path.join(out_dir, "lists", f"cluster_id={c}")
        if os.path.isdir(d):  # a list that got no rows has no directory
            files += [os.path.join(d, f) for f in sorted(os.listdir(d)) if not f.startswith(("_", "."))]
    return ds.dataset(files, schema=_LIST_SCHEMA, format="parquet").to_table(filter=keep)


def append_ivf(new_df: DataFrame, out_dir: str, centroids: np.ndarray) -> None:
    """Add-after-build (ivf.go:99-127 Add/AddBatch; exercised by the
    reference's add-after-train test, ivf_test.go:96): assign new
    (id, vector) rows to the EXISTING centroids of the index at out_dir
    (as load_ivf returns them) — no retrain — and append them to its
    on-disk inverted lists.

    The append writes new immutable parquet files into the matching
    cluster_id partition dirs; a subsequent load_ivf sees them.
    Centroids drift as data grows, so periodic build_index rebuilds stay
    the compaction analogue; this is the cheap write path between them."""
    assigned = assign_clusters(new_df.select("id", "vector"), centroids)
    write_lists(assigned, os.path.join(out_dir, "lists"), "append")


def rank_probes(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-nprobe nearest centroids per query (ivf.go:186-195) —
    vectorized against broadcast centroids; output one row per
    (query, probed cluster). query_vec keeps the input's type, so the
    candidates are scored against the query as given."""
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids, dtype=np.float32))
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType, True),
            T.StructField("query_vec", queries.schema[query_vec_col].dataType, True),
            T.StructField("cluster_id", T.IntegerType(), False),
        ]
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")
    )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = min(nprobe, bc.value.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["query_vec"].tolist(), dtype=np.float32)
            probes = nearest_centroids(x, bc.value, p)
            out = pdf.loc[pdf.index.repeat(p)].reset_index(drop=True)
            out["cluster_id"] = probes.reshape(-1).astype(np.int32)
            yield out

    return q.mapInPandas(_map, schema=schema)


def knn_ivf(
    queries: DataFrame,
    centroids: np.ndarray,
    index_df: DataFrame,
    k: int,
    nprobe: int = DEFAULT_NPROBE,
    space: str = "l2",
    id_filter: DataFrame | None = None,
) -> DataFrame:
    """IVF search (ivf.go:175-228): the broadcast probe edge list
    equi-joins the partition-pruned lists, each candidate is scored by
    the in-order fold expression (distance_expr, oracle-bit-exact), then
    the per-query top-k. queries has columns (query_id, query_vec).

    Note: probe ranking always uses L2 to centroids (as the reference
    does); the candidate re-ranking uses `space`.

    id_filter: optional one-column (id) frame — filtered ANN
    (apply_id_filter). With nprobe=nlist this is exact filtered kNN; at
    partial probes it inherits IVF recall, and selective filters warrant
    a higher nprobe (the standard filtered-ANN tradeoff).

    For a table-sized query set (whole-base self-kNN) use
    knn_ivf_cogrouped, which returns the same rows.
    """
    probes = F.broadcast(rank_probes(queries, centroids, nprobe))
    cand = apply_id_filter(probes.join(index_df, on="cluster_id"), id_filter)
    scored = cand.select("query_id", "id", distance_expr(space, "query_vec", "vector").alias("distance"))
    return topk_per_query(scored, k)


def knn_ivf_cogrouped(
    queries: DataFrame,
    centroids: np.ndarray,
    index_df: DataFrame,
    k: int,
    nprobe: int = DEFAULT_NPROBE,
    space: str = "l2",
) -> DataFrame:
    """IVF search for a table-sized query set (e.g. the whole-base
    self-kNN of mutual_knn_pairs_ivf), with knn_ivf's rows: the probe
    edge list (query_id, query_vec, cluster_id) is never broadcast but
    cogroups with the inverted lists on cluster_id, and each cluster is
    one kernels.block_topk block — a float64 GEMM picks each query's
    local top-k, the in-order fold scores it — so the |queries|·
    |cluster| candidate rows never materialize and each base vector
    crosses Arrow once per cluster. The global topk_per_query window
    merges the per-cluster shortlists (<= nprobe·k rows per query); the
    local trim keeps boundary ties in (distance, id) order, the total
    order of that merge (REPOSE's local top-k plus global merge)."""
    if space not in SPACES:
        raise ValueError(f"unknown space: {space!r}; expected one of {SPACES}")
    probes = rank_probes(queries, centroids, nprobe)
    out_schema = scored_schema(probes.schema["query_id"].dataType, index_df.schema["id"].dataType)

    def _score(key, probe_pdf: pd.DataFrame, index_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(probe_pdf) == 0 or len(index_pdf) == 0:
            return pd.DataFrame({"query_id": [], "id": [], "distance": []})
        Q = np.array(probe_pdf["query_vec"].tolist(), dtype=np.float64)
        X = np.array(index_pdf["vector"].tolist(), dtype=np.float64)
        return block_topk(probe_pdf["query_id"].to_numpy(), Q, k, space)(index_pdf["id"].to_numpy(), X)

    shortlists = (
        probes.groupBy("cluster_id")
        .cogroup(index_df.groupBy("cluster_id"))
        .applyInPandas(_score, schema=out_schema)
    )
    return topk_per_query(shortlists, k)


def ivf_search_stats(
    queries: DataFrame,
    centroids_df: DataFrame,
    index_df: DataFrame,
    nprobe: int = DEFAULT_NPROBE,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Per-query search-cost counters — the Spark analogue of the
    reference's HNSW runtime statistics (avg hops / distance
    computations / query count, hnswalg.h:67-68,215-221, surfaced via
    hnsw_go_api.go:247-257). In a probe-pruned plan the 'distance
    computations' a query pays is exactly its probed-candidate volume;
    'hops' has no analogue in a flat probe join.

    Returns (query_id, n_probes, n_candidates). Cost: one probe ranking
    pass + a broadcast join against the per-cluster size table (nlist
    rows) — the index itself is scanned only for its per-cluster counts
    (metadata-level parquet count), never for vectors."""
    sizes = index_df.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    centroids = _centroid_matrix(centroids_df)
    probes = rank_probes(queries, centroids, nprobe, query_id_col, query_vec_col)
    return (
        probes.join(F.broadcast(sizes), on="cluster_id", how="left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.coalesce(F.sum("cluster_size"), F.lit(0)).cast("bigint").alias("n_candidates"),
        )
    )


def apply_id_filter(cand: DataFrame, id_filter: DataFrame | None) -> DataFrame:
    """Filtered ANN, shared by knn_ivf / knn_ivfsq / knn_ivfpq: semi-join
    candidates against the filter id set AFTER probe pruning, so the
    filter costs |probed candidates|, never a reshuffle of the whole
    index (AQE broadcasts the filter side when it is selective — the
    common case)."""
    if id_filter is None:
        return cand
    return cand.join(id_filter.select("id"), on="id", how="left_semi")



def knn_probed(
    queries: DataFrame,
    centroids: np.ndarray,
    index_df: DataFrame,
    k: int,
    nprobe: int,
    space: str,
    refine_base: DataFrame | None,
    refine_factor: int,
    id_filter: DataFrame | None,
    score: Callable,
    model: tuple,
) -> DataFrame:
    """The search skeleton of the quantized IVF tiers (knn_ivfpq,
    knn_ivfsq), run per query batch: probe, candidates, score, then
    top-k or refine. The probes broadcast-join the partition-pruned
    lists and id_filter semi-joins the candidates after that pruning.
    score(pdf, q, space, model) gives the (n,) distances of one Arrow
    batch of candidate rows, q being each row's query vector (float64)
    and model the tier's broadcast numpy state; the queries are
    broadcast, so candidate rows carry only their codes. With
    refine_base (id, vector), the top k·refine_factor are re-ranked
    with the exact metric (the FAISS IVFPQR pattern)."""

    def search(frame: DataFrame, ids: list, vectors: np.ndarray) -> DataFrame:
        bc = index_df.sparkSession.sparkContext.broadcast((ids, vectors, model))
        probes = rank_probes(frame, centroids, nprobe).select("query_id", "cluster_id")
        cand = apply_id_filter(F.broadcast(probes).join(index_df, on="cluster_id"), id_filter)

        def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids, Q, state = bc.value
            qpos = {q: i for i, q in enumerate(qids)}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                q = Q[[qpos[x] for x in pdf["query_id"]]]
                d = score(pdf, q, space, state)
                yield pd.DataFrame({"query_id": pdf["query_id"], "id": pdf["id"], "distance": d})

        out_schema = scored_schema(frame.schema["query_id"].dataType, index_df.schema["id"].dataType)
        scored = cand.mapInPandas(_score, schema=out_schema)
        if refine_base is None:
            return topk_per_query(scored, k)
        return refine_exact(topk_per_query(scored, k * refine_factor), frame, refine_base, k, space)

    return per_query_batch(queries, search)
