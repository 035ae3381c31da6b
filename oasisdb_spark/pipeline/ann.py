"""Similarity search over embedding columns — the scale paths.

Three tiers (SURVEY.md Q3-Q6 capability, re-shaped for 100 TB):
1. knn_brute_batched (here): exact top-k via per-partition numpy GEMM —
   queries broadcast, each Arrow batch of the base table scored as one
   (batch x dim) @ (dim x nq) matrix multiply (BLAS = the reference's
   SIMD kernels, space_l2.h, but batched), local top-k per partition,
   then a global top-k over num_partitions*k rows. The base table is
   scanned once, never shuffled; shuffle volume is O(partitions*nq*k).
   This is the throughput-optimal exact path.
2. index/ivf.knn_ivf: probe-pruned approximate path (scan nprobe/nlist
   of the data).
3. index/ivfpq.knn_ivfpq: compressed-scan path (32x smaller reads)
   + exact refine.

knn_flat (index/flat.py) remains the expression-based executable spec —
bit-reproducible against SQL oracles; this module is the fast twin
(a float32 GEMM picks each batch's survivors, which are then re-scored
by the same in-order float64 fold, so ids, ranks and distances equal
knn_flat's on non-degenerate data).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from oasisdb_spark.index.flat import topk_per_query
from oasisdb_spark.index.kernels import block_topk, per_query_batch, scored_schema

__all__ = ["knn_brute_batched"]


def knn_brute_batched(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    space: str = "l2",
    gemm_dtype: str = "float32",
    hard_query_cap: int | None = None,
) -> DataFrame:
    """Exact kNN via broadcast queries + per-batch GEMM + two-level top-k.
    queries has columns (query_id, query_vec), base has (id, vector).

    space: l2 (squared) | ip (-dot) | cos (1-cos) | hamming (#unequal
    components, distance.go:5-41 parity).

    Each Arrow batch of the base is one block of kernels.block_topk:
    a GEMM picks each query's survivors and the in-order float64 fold
    scores them (hamming: packed XOR-popcount for 0/1 vectors, else an
    inequality count). The base is scanned once, the queries broadcast.

    A query frame past kernels.QUERY_BATCH_ROWS runs as several
    broadcast + base scan passes, results unioned (SCALING.md).

    gemm_dtype: 'float32' (default — half the memory traffic, 2x BLAS
    throughput) or 'float64'. It decides only which rows of each Arrow
    batch survive a near-tie at the k-th place: an l2 / ip / cos
    distance is knn_flat's bit for bit whatever the dtype.

    hard_query_cap: raise (instead of batching) when the collected
    query frame exceeds it — the loud-guard hook for callers whose
    query set IS the base (mutual_knn_pairs' self-kNN): checking the
    length of the collect this kernel pays anyway costs no extra job.
    """
    if space not in ("l2", "ip", "cos", "hamming"):
        raise ValueError(f"knn_brute_batched supports l2/ip/cos/hamming, got {space!r}")
    b = base.select("id", "vector")
    _dt = np.float64 if gemm_dtype == "float64" else np.float32

    def search(frame: DataFrame, ids: list, vectors: np.ndarray) -> DataFrame:
        # float64 as collected: the exact re-score needs the queries unrounded
        bc = b.sparkSession.sparkContext.broadcast((ids, vectors))

        def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            score = block_topk(*bc.value, k, space, _dt)
            for pdf in batches:
                if len(pdf) > 0:
                    yield score(pdf["id"].values, np.array(pdf["vector"].tolist(), dtype=np.float64))

        out_schema = scored_schema(frame.schema["query_id"].dataType, b.schema["id"].dataType)
        return topk_per_query(b.mapInPandas(_score, schema=out_schema), k)

    return per_query_batch(queries, search, hard_cap=hard_query_cap)
