"""IVF-SQ8: inverted file + per-dimension scalar quantization.

No direct counterpart in the reference (it ships flat/ivf_flat/ivfpq/
hnsw); SQ8 is the standard middle tier between IVF-Flat and IVF-PQ
(FAISS `IndexIVFScalarQuantizer`): each float32 component quantizes to
one uint8 against a per-dimension [vmin, vmax] range learned at train
time — 4× smaller list scans than raw float32 with far less distortion
than PQ's 32× (one code per component vs one per 8-dim subspace), so
recall stays near-exact without a refine pass.

Spark design mirrors index/ivf.py: the index is a DataFrame
(cluster_id, id, codes BINARY) partitioned by cluster_id (partition-
pruned probes), the quantizer state (centroids + vmin/vmax vectors) is
broadcast, and search runs the shared ivf.knn_probed skeleton with a
per-batch scorer that decodes the candidates — dequantize is a fused
multiply-add, then one dot per candidate row and the usual top-k.

Add-after-build quantizes arrivals against the TRAINED [vmin, vmax]
(values outside the trained range clamp to the boundary code — the same
drift-until-rebuild semantics as IVF centroids; periodic build_index
refreshes both).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasisdb_spark.index.ivf import deterministic_sample, knn_probed, train_centroids
from oasisdb_spark.index.kernels import distances_from_dots, nearest_centroids, write_lists

__all__ = ["train_sq", "encode_sq", "build_ivfsq", "load_ivfsq", "append_ivfsq", "knn_ivfsq"]


def train_sq(base: DataFrame, vec_col: str = "vector", sample_cap: int = 65_536):
    """Per-dimension [vmin, vmax] from a deterministic content-hash
    sample, widened by 1% margin so out-of-sample values clamp rather
    than fold. Returns (vmin, vmax) float32 vectors."""
    sample = deterministic_sample(base.select(vec_col), base.count(), sample_cap, vec_col)
    x = np.array(sample.toPandas()[vec_col].tolist(), dtype=np.float32)
    vmin, vmax = x.min(axis=0), x.max(axis=0)
    span = np.maximum(vmax - vmin, 1e-12)
    return (vmin - 0.01 * span).astype(np.float32), (vmax + 0.01 * span).astype(np.float32)


def _quantize(x: np.ndarray, vmin: np.ndarray, vmax: np.ndarray) -> np.ndarray:
    scale = (vmax - vmin).astype(np.float64)
    q = np.rint((x.astype(np.float64) - vmin) / scale * 255.0)
    return np.clip(q, 0, 255).astype(np.uint8)


def _dequantize(codes: np.ndarray, vmin: np.ndarray, vmax: np.ndarray) -> np.ndarray:
    scale = (vmax - vmin).astype(np.float64) / 255.0
    return codes.astype(np.float64) * scale + vmin.astype(np.float64)


def encode_sq(
    df: DataFrame,
    centroids: np.ndarray,
    vmin: np.ndarray,
    vmax: np.ndarray,
    vec_col: str = "vector",
) -> DataFrame:
    """Assign cluster + quantize in one Arrow pass. Output: input
    columns − vector + (cluster_id INT, codes BINARY dim bytes)."""
    spark = df.sparkSession
    bc_c = spark.sparkContext.broadcast(centroids.astype(np.float32))
    bc_r = spark.sparkContext.broadcast((vmin, vmax))
    keep = [f.name for f in df.schema.fields if f.name != vec_col]
    out_fields = [f for f in df.schema.fields if f.name != vec_col] + [
        T.StructField("cluster_id", T.IntegerType(), False),
        T.StructField("codes", T.BinaryType(), False),
    ]

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo, hi = bc_r.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float32)
            assign = nearest_centroids(x, bc_c.value)
            codes = _quantize(x, lo, hi)
            out = pdf[keep].copy()
            out["cluster_id"] = assign.astype(np.int32)
            out["codes"] = [bytearray(row.tobytes()) for row in codes]
            yield out

    return df.mapInPandas(_map, schema=T.StructType(out_fields))


def build_ivfsq(
    base: DataFrame,
    nlist: int = 100,
    id_col: str = "id",
    vec_col: str = "vector",
    out_dir: str | None = None,
):
    """Returns (centroids, vmin, vmax, index_df(cluster_id, id, codes)).
    Same persistence layout as the other tiers: cluster_id-partitioned
    lists + npy quantizer state."""
    centroids = train_centroids(base, nlist, vec_col)
    vmin, vmax = train_sq(base, vec_col)
    index_df = encode_sq(
        base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector")),
        centroids, vmin, vmax,
    )
    if out_dir:
        write_lists(index_df, os.path.join(out_dir, "lists"), "overwrite")
        np_dir = os.path.join(out_dir, "model")
        os.makedirs(np_dir, exist_ok=True)
        np.save(os.path.join(np_dir, "centroids.npy"), centroids)
        np.save(os.path.join(np_dir, "vmin.npy"), vmin)
        np.save(os.path.join(np_dir, "vmax.npy"), vmax)
        return load_ivfsq(base.sparkSession, out_dir)
    return centroids, vmin, vmax, index_df


def load_ivfsq(spark, out_dir: str):
    """Read back the index build_ivfsq wrote to out_dir: the same
    (centroids, vmin, vmax, index_df) build_ivfsq returns."""
    model = os.path.join(out_dir, "model")
    return (
        np.load(os.path.join(model, "centroids.npy")),
        np.load(os.path.join(model, "vmin.npy")),
        np.load(os.path.join(model, "vmax.npy")),
        spark.read.parquet(os.path.join(out_dir, "lists")),
    )


def append_ivfsq(
    new_df: DataFrame, out_dir: str, centroids: np.ndarray, vmin: np.ndarray, vmax: np.ndarray
) -> None:
    """Add-after-build: quantize new (id, vector) rows against the
    trained centroids and ranges of the index at out_dir (as load_ivfsq
    returns them) and append them to its inverted lists — no retrain."""
    encoded = encode_sq(new_df.select("id", "vector"), centroids, vmin, vmax)
    write_lists(encoded, os.path.join(out_dir, "lists"), "append")


def knn_ivfsq(
    queries: DataFrame,
    centroids: np.ndarray,
    vmin: np.ndarray,
    vmax: np.ndarray,
    index_df: DataFrame,
    k: int,
    nprobe: int = 10,
    space: str = "l2",
    refine_base: DataFrame | None = None,
    refine_factor: int = 4,
    id_filter: DataFrame | None = None,
) -> DataFrame:
    """Probe-pruned search with asymmetric distance (exact query vs
    dequantized candidates) through the ivf.knn_probed skeleton.
    queries has columns (query_id, query_vec).

    space: l2 (squared) | ip (-dot) | cos (1-cos) — the collection's
    declared metric is honored end-to-end (probe ranking stays L2-to-
    centroid, as in knn_ivf / the reference ivf.go:186-195). Hamming is
    rejected: SQ8 codes are not a binary representation (Catalog.
    create_collection enforces the same rule at declaration time).

    refine_base: optional (id, vector) table; a k*refine_factor
    shortlist is re-ranked exactly, as in knn_ivfpq — with
    refine_factor*k >= N the search is metric-exact end-to-end, the
    driver-gate configuration."""
    if space not in ("l2", "ip", "cos"):
        raise ValueError(f"knn_ivfsq supports l2/ip/cos, got {space!r}")
    return knn_probed(
        queries, centroids, index_df, k, nprobe, space, refine_base, refine_factor, id_filter,
        _sq_distances, (vmin, vmax),
    )


def _sq_distances(pdf: pd.DataFrame, q: np.ndarray, space: str, model: tuple) -> np.ndarray:
    """Distances of one batch of candidate rows (codes) to their queries
    q: decode the SQ8 codes, then one dot per row (each candidate comes
    pre-paired with its query by the probe join)."""
    lo, hi = model
    codes = np.frombuffer(b"".join(bytes(b) for b in pdf["codes"]), dtype=np.uint8)
    X = _dequantize(codes.reshape(len(pdf), len(lo)), lo, hi)
    dot = np.einsum("ij,ij->i", X, q)
    return distances_from_dots(space, dot, (X**2).sum(axis=1), (q**2).sum(axis=1))
