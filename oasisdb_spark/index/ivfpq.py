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
  lookup per candidate); it is the per-batch numpy scorer of the shared
  ivf.knn_probed skeleton, with numpy fancy-indexing, grouped per
  (query, cluster) inside each batch so each distance table is built
  once per probed list — mirroring the reference's per-probe
  precompute, but vectorized over candidates.
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
from oasisdb_spark.index.ivf import knn_probed, train_centroids
from oasisdb_spark.index.kernels import nearest_centroids, write_lists
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


def append_ivfpq(new_df: DataFrame, out_dir: str, centroids: np.ndarray, codebooks: np.ndarray) -> None:
    """Add-after-build (ivfpq.go Add path): encode new (id, vector) rows
    against the EXISTING coarse centroids + codebooks of the index at
    out_dir (as load_ivfpq returns them) — no retrain — and append the
    codes to its on-disk inverted lists. Same append-only file
    semantics as ivf.append_ivf."""
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
    refine_base: DataFrame | None = None,
    refine_factor: int = 4,
    id_filter: DataFrame | None = None,
) -> DataFrame:
    """ADC search (ivfpq.go:230-304) through the ivf.knn_probed
    skeleton: probe -> partition-pruned join -> per-(query,cluster)
    distance-table lookup -> top-k. queries has columns (query_id,
    query_vec).

    Approximate distances (like the reference): returns
    (query_id, id, distance, rank) where distance is the ADC estimate.

    space: l2 (squared, residual distance tables) | ip (-dot: the dot
    decomposes as q·centroid + Σ_j q_j·codebook[j,code_j], still one
    table per (query, cluster)) | cos (1-cos: same dot tables plus a
    query-independent reconstruction-norm table). Probe ranking stays
    L2-to-centroid (reference ivf.go:186-195). Hamming is rejected —
    PQ codes are not a binary representation (Catalog.create_collection
    enforces the same at declaration time).

    refine_base: optional (id, vector) table; an ADC shortlist of
    k*refine_factor is re-ranked exactly (the reference has no
    refinement, ADC error is its floor; the refine join touches only
    k*refine_factor rows per query, id-pruned at the parquet scan)."""
    if space not in ("l2", "ip", "cos"):
        raise ValueError(f"knn_ivfpq supports l2/ip/cos, got {space!r}")
    return knn_probed(
        queries, centroids, index_df, k, nprobe, space, refine_base, refine_factor, id_filter,
        _adc, (centroids, codebooks),
    )


def _adc(pdf: pd.DataFrame, q: np.ndarray, space: str, model: tuple) -> np.ndarray:
    """ADC distances of one batch of candidate rows (cluster_id, codes)
    to their queries q: one distance table per (query, probed cluster)
    group — the reference's per-probe precompute (ivfpq.go:262-277)."""
    cents, books = model
    books = books.astype(np.float64)
    m, _, sub = books.shape
    jj = np.arange(m)
    codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
    dist = np.empty(len(pdf))
    groups = pdf.groupby(["query_id", "cluster_id"], sort=False, dropna=False).indices
    for (_, cl), at in groups.items():
        qv, cent, lookup = q[at[0]], cents[cl].astype(np.float64), (jj[None, :], codes[at])
        if space == "l2":
            rs = (qv - cent).reshape(m, sub)
            # dtable[j, c] = || resid_j - codebook[j, c] ||^2
            dist[at] = ((rs[:, None, :] - books) ** 2).sum(axis=2)[lookup].sum(axis=1)
            continue
        # dot(q, x̂) = q·centroid + Σ_j q_j·codebook[j,code_j]
        dtable = np.einsum("ms,mcs->mc", qv.reshape(m, sub), books)
        dot = qv @ cent + dtable[lookup].sum(axis=1)
        if space == "ip":
            dist[at] = -dot
        else:  # cos: reconstruction-norm table (query-independent)
            ntable = ((cent.reshape(m, 1, sub) + books) ** 2).sum(axis=2)
            x_norm = np.sqrt(np.maximum(ntable[lookup].sum(axis=1), 1e-30))
            q_norm = max(float(np.sqrt((qv**2).sum())), 1e-30)
            dist[at] = 1.0 - dot / (x_norm * q_norm)
    return dist
