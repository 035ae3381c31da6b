"""Binary quantization (BQ) index tier: one sign bit per dimension.

Extension beyond the reference's four index types (flat/ivf/ivfpq/hnsw —
SURVEY.md §2.2), filling the modern vector-DB "BQ" slot (RaBitQ-style
binary quantization): each dimension quantizes to `vector[d] > mean[d]`
(per-dim corpus means as thresholds), codes pack into uint64 words, and
search is an XOR-popcount hamming scan over codes **32× smaller than
the float32 vectors**, followed by an exact re-rank of a
k·refine_factor shortlist against the original vectors (the same
IVFPQR refine pattern as ivfpq/ivfsq).

Where IVF tiers prune WHICH rows are read (probe-shaped), BQ shrinks
HOW MUCH is read per row (scan-shaped, like SQ8 but 8× smaller again).
At 100 TB of float32 vectors the code table is ~3 TB — a full exact-ish
scan becomes IO-feasible with no recall cliff from centroid skew, the
standard tier for filtered / hard-to-cluster workloads.

Scale shape: codes are scanned once per query batch inside Arrow-batched
mapInPandas (queries broadcast, XOR+popcount per batch, local shortlist
per partition — knn_brute_batched's plan with a 32× lighter scan); the
only shuffle is the per-query shortlist window (O(partitions·nq·r·k)
rows), then the refine join touches k·refine_factor full vectors per
query, id-pruned at the parquet scan.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasisdb_spark.index.flat import topk_per_query
from oasisdb_spark.index.ivf import apply_id_filter, deterministic_sample
from oasisdb_spark.index.kernels import local_topk, packbits64, per_query_batch, popcount64, refine_exact, scored_schema

__all__ = ["train_binq", "encode_binq", "build_binq", "load_binq", "append_binq", "knn_binq"]

TRAIN_SAMPLE_CAP = 200_000


def train_binq(base: DataFrame, vec_col: str = "vector", sample_cap: int = TRAIN_SAMPLE_CAP) -> np.ndarray:
    """Per-dimension thresholds = corpus means, fit on the same
    deterministic content-hash sample as the SQ/IVF trainers (unbiased
    wrt storage order, reproducible under any partitioning). Returns
    (dim,) float32."""
    n = base.count()
    sample = deterministic_sample(base.select(vec_col), n, sample_cap, vec_col)
    x = np.array(sample.toPandas()[vec_col].tolist(), dtype=np.float32)
    return x.mean(axis=0).astype(np.float32)


def _pack_rows(X: np.ndarray, means: np.ndarray) -> np.ndarray:
    """(n, dim) floats → (n, ceil(dim/64)) int64 code words (sign bits
    vs per-dim means; int64 view because Spark has no unsigned type —
    XOR/popcount are bit-level, signedness never matters)."""
    return packbits64((X > means[None, :]).astype(np.float64)).view(np.int64)


def encode_binq(
    df: DataFrame, means: np.ndarray, id_col: str = "id", vec_col: str = "vector"
) -> DataFrame:
    """Encode vectors to packed sign-bit codes: (id, code ARRAY<BIGINT>).
    One Arrow-batched pass, means broadcast, no shuffle."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(means, dtype=np.float32))
    schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType, True),
        T.StructField("code", T.ArrayType(T.LongType()), False),
    ])
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["vector"].tolist(), dtype=np.float32)
            codes = _pack_rows(X, m)
            yield pd.DataFrame({"id": pdf["id"].values, "code": list(codes)})

    return src.mapInPandas(_map, schema=schema)


def build_binq(
    base: DataFrame,
    id_col: str = "id",
    vec_col: str = "vector",
    out_dir: str | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """Index build (S8 shape): returns (means, code_df). With out_dir,
    persists model/means.npy + codes/ parquet (S12 persistence shape,
    matching the ivfsq/ivfpq model+lists layout)."""
    means = train_binq(base, vec_col)
    codes = encode_binq(base, means, id_col, vec_col)
    if out_dir:
        model_dir = os.path.join(out_dir, "model")
        os.makedirs(model_dir, exist_ok=True)
        np.save(os.path.join(model_dir, "means.npy"), means)
        codes.write.mode("overwrite").parquet(os.path.join(out_dir, "codes"))
        return load_binq(base.sparkSession, out_dir)
    return means, codes


def load_binq(spark, out_dir: str) -> tuple[np.ndarray, DataFrame]:
    """Read back the index build_binq wrote to out_dir: the same
    (means, code_df) pair build_binq returns."""
    return (
        np.load(os.path.join(out_dir, "model", "means.npy")),
        spark.read.parquet(os.path.join(out_dir, "codes")),
    )


def append_binq(new_df: DataFrame, out_dir: str, means: np.ndarray) -> None:
    """Add-after-build: encode new (id, vector) rows against the
    trained means of the index at out_dir (as load_binq returns them)
    and append their codes."""
    encode_binq(new_df, means).write.mode("append").parquet(os.path.join(out_dir, "codes"))


def knn_binq(
    queries: DataFrame,
    means: np.ndarray,
    code_df: DataFrame,
    k: int,
    refine_base: DataFrame | None = None,
    refine_factor: int = 4,
    space: str = "l2",
    id_filter: DataFrame | None = None,
) -> DataFrame:
    """BQ search: hamming scan over packed codes → per-query shortlist of
    k·refine_factor → exact re-rank against refine_base in the declared
    space. Without refine_base, ranks by the hamming proxy itself
    (distance = code hamming — recall measured in RECALL.md). queries
    has columns (query_id, query_vec); batches past kernels.
    QUERY_BATCH_ROWS run as unioned passes.

    id_filter (filtered ANN): semi-joins the CODE scan before scoring —
    unlike the IVF tiers there is no probe stage to defer it past, but
    the reshuffle it costs is over 32×-compressed codes."""
    if space not in ("l2", "ip", "cos"):
        raise ValueError(f"knn_binq refines in l2/ip/cos, got {space!r}")
    shortlist = max(k, k * max(refine_factor, 1)) if refine_base is not None else k
    codes = apply_id_filter(code_df, id_filter)

    def search(frame: DataFrame, ids: list, vectors: np.ndarray) -> DataFrame:
        # reshape: an empty query frame collects a (0,) array
        q = vectors.reshape(len(ids), len(means)).astype(np.float32)
        q_codes = _pack_rows(q, np.ascontiguousarray(means, dtype=np.float32))
        bc_q = codes.sparkSession.sparkContext.broadcast((np.array(ids, dtype=object), q_codes))
        out_schema = scored_schema(
            frame.schema["query_id"].dataType, codes.schema["id"].dataType, T.LongType()
        )

        def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids_arr, qc = bc_q.value
            qc64 = qc.view(np.uint64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                code = np.array(pdf["code"].tolist(), dtype=np.int64).view(np.uint64)
                # (nb, nq) hamming distances via XOR + popcount
                D = popcount64(code[:, None, :] ^ qc64[None, :, :])
                yield local_topk(ids_arr, pdf["id"].values, D, shortlist)

        top = topk_per_query(codes.mapInPandas(_scan, schema=out_schema), shortlist)
        if refine_base is None:
            return top.withColumn("distance", F.col("distance").cast("double"))
        # the exact re-rank scores the float32 query vectors the codes
        # were packed from
        q = frame.withColumn("query_vec", F.col("query_vec").cast("array<float>"))
        return refine_exact(top, q, refine_base, k, space)

    return per_query_batch(queries, search).select("query_id", "id", "rank", "distance")
