"""IVF-PQ: inverted file + product quantization with ADC search.

Reference: internal/index/ivfpq.go —
- Train: coarse k-means, then per-subspace k-means over RESIDUALS
  (vector - its coarse centroid), m subspaces x 256 codes
  (ivfpq.go:130-187; nbits=8 only, ivfpq.go:104-106)
- Encode: per subspace, argmin codebook entry for the residual
  (ivfpq.go:429-454 encodeVector)
- Search (ADC): per probed centroid build the m x 256 distance table of
  the query residual vs codebook entries (ivfpq.go:262-277), then each
  candidate's approx distance = sum of m table lookups over its codes
  (ivfpq.go:279-285), top-k (ivfpq.go:288-303).

Spark design:
- Index table: (cluster_id, id, codes ARRAY<SMALLINT>) partitioned by
  cluster_id — 64-dim float32 (256 B) compresses to m=8 bytes/row, a
  32x scan-size reduction; at 100 TB of raw vectors the PQ index is
  ~3 TB, which is what makes large-scale ANN scans cheap.
- Codebooks ((m, 256, sub_dim) float32) and coarse centroids are a few
  MB — broadcast to every executor.
- The ADC kernel is genuinely not expressible as efficient SQL (table
  lookup per candidate); it runs as an Arrow-batched mapInPandas with
  numpy fancy-indexing, grouped per (query, cluster) inside each batch
  so each distance table is built once per probed list — mirroring the
  reference's per-probe precompute, but vectorized over candidates.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasisdb_spark.errors import ErrInvalidParams
from oasisdb_spark.index.flat import topk_per_query
from oasisdb_spark.index.ivf import apply_id_filter, rank_probes, run_query_chunks, train_centroids
from oasisdb_spark.index.kernels import nearest_centroids, refine_exact, scored_schema, write_lists
from oasisdb_spark.index.kmeans import kmeans_fit

__all__ = ["train_pq", "encode_pq", "build_ivfpq", "load_ivfpq", "append_ivfpq", "knn_ivfpq"]

KSUB = 256  # 2^nbits, nbits=8 only (ivfpq.go:104-106)


def train_pq(
    base: DataFrame,
    centroids: np.ndarray,
    m: int,
    vec_col: str = "vector",
    sample_cap: int = 65_536,
) -> np.ndarray:
    """Per-subspace codebooks over residuals (ivfpq.go:151-165).
    Returns (m, KSUB, dim//m) float32. sample_cap defaults to 256·KSUB
    training points — the standard per-code budget; driver-memory
    bounded at any table size. Sampling is content-hash based (see
    ivf.deterministic_sample), not storage-order."""
    from oasisdb_spark.index.ivf import deterministic_sample

    dim = centroids.shape[1]
    if dim % m != 0:
        raise ErrInvalidParams(f"ivfpq requires dim % m == 0, got dim={dim}, m={m}")
    sub = dim // m
    sample = deterministic_sample(base.select(vec_col), base.count(), sample_cap, vec_col)
    x = np.array(sample.toPandas()[vec_col].tolist(), dtype=np.float32)
    resid = x - centroids[nearest_centroids(x, centroids)]
    books = np.zeros((m, KSUB, sub), dtype=np.float32)
    for j in range(m):
        block = resid[:, j * sub : (j + 1) * sub]
        fitted = kmeans_fit(block, KSUB)
        books[j, : fitted.shape[0]] = fitted
        if fitted.shape[0] < KSUB:  # fewer samples than codes: pad by repeat
            books[j, fitted.shape[0]:] = fitted[0]
    return books


def encode_pq(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "vector",
) -> DataFrame:
    """Assign cluster + encode residual codes (ivfpq.go:429-454) in one
    vectorized pass. Output: input columns - vector + (cluster_id, codes)."""
    spark = df.sparkSession
    bc_c = spark.sparkContext.broadcast(centroids.astype(np.float32))
    bc_b = spark.sparkContext.broadcast(codebooks.astype(np.float32))
    m, _, sub = codebooks.shape
    out_fields = [f for f in df.schema.fields if f.name != vec_col] + [
        T.StructField("cluster_id", T.IntegerType(), False),
        T.StructField("codes", T.ArrayType(T.ShortType()), False),
    ]
    keep = [f.name for f in df.schema.fields if f.name != vec_col]

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc_b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float32)
            assign = nearest_centroids(x, bc_c.value).astype(np.int32)
            resid = x - bc_c.value[assign]
            codes = np.empty((len(x), m), dtype=np.int16)
            for j in range(m):
                codes[:, j] = nearest_centroids(resid[:, j * sub : (j + 1) * sub], books[j])
            out = pdf[keep].copy()
            out["cluster_id"] = assign
            out["codes"] = list(codes)
            yield out

    return df.mapInPandas(_map, schema=T.StructType(out_fields))


def build_ivfpq(
    base: DataFrame,
    nlist: int = 100,
    m: int = 8,
    id_col: str = "id",
    vec_col: str = "vector",
    out_dir: str | None = None,
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """Full IVFPQ build (ivfpq.go:130-187 Train + AddBatch). Returns
    (centroids, codebooks, index_df(cluster_id, id, codes))."""
    centroids = train_centroids(base, nlist, vec_col)
    codebooks = train_pq(base, centroids, m, vec_col)
    index_df = encode_pq(
        base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector")),
        centroids,
        codebooks,
    )
    if out_dir:
        write_lists(index_df, os.path.join(out_dir, "lists"), "overwrite")
        np_dir = os.path.join(out_dir, "model")
        os.makedirs(np_dir, exist_ok=True)
        np.save(os.path.join(np_dir, "centroids.npy"), centroids)
        np.save(os.path.join(np_dir, "codebooks.npy"), codebooks)
        return load_ivfpq(base.sparkSession, out_dir)
    return centroids, codebooks, index_df


def load_ivfpq(spark, out_dir: str) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """Read back the index build_ivfpq wrote to out_dir: the same
    (centroids, codebooks, index_df) triple build_ivfpq returns."""
    model = os.path.join(out_dir, "model")
    return (
        np.load(os.path.join(model, "centroids.npy")),
        np.load(os.path.join(model, "codebooks.npy")),
        spark.read.parquet(os.path.join(out_dir, "lists")),
    )


def append_ivfpq(new_df: DataFrame, out_dir: str) -> None:
    """Add-after-build (ivfpq.go Add path): encode new (id, vector) rows
    against the EXISTING coarse centroids + codebooks of the index at
    out_dir — no retrain — and append the codes to its on-disk inverted
    lists. Same append-only file semantics as ivf.append_ivf."""
    centroids, codebooks, _ = load_ivfpq(new_df.sparkSession, out_dir)
    encoded = encode_pq(new_df.select("id", "vector"), centroids, codebooks)
    write_lists(encoded, os.path.join(out_dir, "lists"), "append")


def knn_ivfpq(
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    index_df: DataFrame,
    k: int,
    nprobe: int = 10,
    space: str = "l2",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    refine_base: DataFrame | None = None,
    refine_factor: int = 4,
    max_query_rows: int = 65_536,
    id_filter: DataFrame | None = None,
) -> DataFrame:
    """ADC search (ivfpq.go:230-304): probe -> partition-pruned join ->
    per-(query,cluster) distance-table lookup -> top-k.

    Approximate distances (like the reference): returns
    (query_id, id, distance, rank) where distance is the ADC estimate.

    space: l2 (squared, residual distance tables) | ip (-dot: the dot
    decomposes as q·centroid + Σ_j q_j·codebook[j,code_j], still one
    table per (query, cluster)) | cos (1-cos: same dot tables plus a
    query-independent reconstruction-norm table). Probe ranking stays
    L2-to-centroid (reference ivf.go:186-195). Hamming is rejected —
    PQ codes are not a binary representation (Catalog.create_collection
    enforces the same at declaration time).

    refine_base: optional (id, vector) table. When given, an ADC
    shortlist of k*refine_factor candidates is re-ranked with the EXACT
    declared metric against the original vectors (the FAISS IVFPQR
    pattern — the reference has no refinement, ADC error is its floor;
    ours recovers exact-rank quality at shortlist cost: the join touches
    only k*refine_factor rows per query, id-pruned at the parquet scan).

    max_query_rows bounds the driver collect/broadcast of the query
    batch: larger batches run as chunks, results unioned (ann.py's
    scale guard).
    """
    if space not in ("l2", "ip", "cos"):
        raise ValueError(f"knn_ivfpq supports l2/ip/cos, got {space!r}")
    spark = queries.sparkSession
    m, ksub, sub = codebooks.shape
    # Broadcast the query vectors (the batch is small by contract — it
    # is collected/broadcast in every exact path too) instead of
    # carrying a 64-float query_vec column on every candidate row
    # through the join + Arrow boundary: ~10× less transfer per
    # candidate (codes are m bytes; the query column would be dim·4).
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    chunked = run_query_chunks(
        spark, q_rows, queries.select(query_id_col, query_vec_col).schema, max_query_rows,
        lambda chunk: knn_ivfpq(
            chunk, centroids, codebooks, index_df, k, nprobe, space,
            query_id_col, query_vec_col, refine_base, refine_factor, max_query_rows, id_filter,
        ),
    )
    if chunked is not None:
        return chunked
    bc_c = spark.sparkContext.broadcast(centroids.astype(np.float32))
    bc_b = spark.sparkContext.broadcast(codebooks.astype(np.float32))
    bc_q = spark.sparkContext.broadcast(
        {r[query_id_col]: np.asarray(r[query_vec_col], dtype=np.float32) for r in q_rows}
    )

    probes = rank_probes(queries, centroids, nprobe, query_id_col, query_vec_col).select(
        "query_id", "cluster_id"
    )
    cand = apply_id_filter(F.broadcast(probes).join(index_df, on="cluster_id"), id_filter)

    out_schema = scored_schema(queries.schema[query_id_col].dataType, index_df.schema["id"].dataType)

    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc_c.value
        books = bc_b.value.astype(np.float64)
        qvecs = bc_q.value
        jj = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            # one distance table per (query, probed cluster) group — the
            # reference's per-probe precompute (ivfpq.go:262-277)
            for (qid, cl), grp in pdf.groupby(["query_id", "cluster_id"], sort=False):
                qv = qvecs[qid].astype(np.float64)
                codes = np.array(grp["codes"].tolist(), dtype=np.int64)
                if space == "l2":
                    rs = (qv - cents[cl].astype(np.float64)).reshape(m, sub)
                    # dtable[j, c] = || resid_j - codebook[j, c] ||^2
                    dtable = ((rs[:, None, :] - books) ** 2).sum(axis=2)
                    dist = dtable[jj[None, :], codes].sum(axis=1)
                else:
                    # dot(q, x̂) = q·centroid + Σ_j q_j·codebook[j,code_j]
                    qrs = qv.reshape(m, sub)
                    dtable = np.einsum("ms,mcs->mc", qrs, books)
                    dot = qv @ cents[cl].astype(np.float64) + dtable[jj[None, :], codes].sum(axis=1)
                    if space == "ip":
                        dist = -dot
                    else:  # cos: reconstruction-norm table (query-independent)
                        crs = cents[cl].astype(np.float64).reshape(m, 1, sub)
                        ntable = ((crs + books) ** 2).sum(axis=2)
                        x_norm = np.sqrt(np.maximum(ntable[jj[None, :], codes].sum(axis=1), 1e-30))
                        q_norm = max(float(np.sqrt((qv**2).sum())), 1e-30)
                        dist = 1.0 - dot / (x_norm * q_norm)
                outs.append(pd.DataFrame({"query_id": qid, "id": grp["id"].values, "distance": dist}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = cand.mapInPandas(_adc, schema=out_schema)
    if refine_base is None:
        return topk_per_query(scored, k)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")
    )
    return refine_exact(topk_per_query(scored, k * refine_factor), q, refine_base, k, space)
