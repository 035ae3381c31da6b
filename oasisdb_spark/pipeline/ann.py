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
from oasisdb_spark.index.kernels import distances_from_dots, fold_distances, local_topk, per_query_batch, scored_schema

__all__ = ["knn_brute_batched"]


def _packbits64(M: np.ndarray) -> np.ndarray:
    """(n, dim) 0/1 floats → (n, ceil(dim/64)) uint64 bit words."""
    bits = (M != 0).astype(np.uint8)
    pad = (-bits.shape[1]) % 64
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits, axis=1).view(np.uint64)


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _popcount64(words: np.ndarray) -> np.ndarray:
    """Popcount over the last axis of a uint64 array via a byte LUT."""
    b = words.view(np.uint8).reshape(*words.shape[:-1], -1)
    return _POP8[b].sum(axis=-1, dtype=np.int64)


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

    hamming takes a batch kernel of its own: when both sides are binary
    (every component 0/1 — the usual hamming regime), components pack
    into uint64 words and distance is XOR + popcount over the packed
    words, a 64x cut in compared elements; general float vectors use a
    vectorized elementwise-inequality count. Both scan the base once
    with broadcast queries — same shape as the GEMM spaces.

    A query frame past kernels.QUERY_BATCH_ROWS runs as several
    broadcast + base scan passes, results unioned (SCALING.md).

    gemm_dtype: 'float32' (default — half the memory traffic, 2x BLAS
    throughput) or 'float64'. It decides only which rows of each Arrow
    batch survive a near-tie at the k-th place: the GEMM distances pick
    each batch's top k, and the kept (row, query) pairs are re-scored by
    kernels.fold_distances, the float64 in-order fold of knn_flat. So an
    l2 / ip / cos distance is knn_flat's bit for bit, whatever the dtype
    or the number of queries in the BLAS call (OpenBLAS picks its kernel
    by call shape, so GEMM values would differ between batch sizes).

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
            qids, Q = bc.value
            Qm = Q.astype(_dt)  # the GEMM operand
            q_sq = (Q**2).sum(axis=1)  # (nq,)
            nq = len(qids)
            q_binary = space == "hamming" and bool(np.isin(Q, (0.0, 1.0)).all())
            q_packed = _packbits64(Q) if q_binary else None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(pdf["vector"].tolist(), dtype=np.float64)  # (nb, dim)
                rescore = None
                if space != "hamming":
                    # the GEMM picks each query's survivors; the fold scores them
                    G = (X.astype(_dt, copy=False) @ Qm.T).astype(np.float64)  # (nb, nq) dot products
                    D = distances_from_dots(space, G, (X**2).sum(axis=1)[:, None], q_sq[None, :])
                    rescore = lambda rows, cols: fold_distances(space, Q[cols], X[rows])
                elif q_binary and bool(np.isin(X, (0.0, 1.0)).all()):
                    # packed-bits path: XOR + popcount over uint64 words
                    D = _popcount64(_packbits64(X)[:, None, :] ^ q_packed[None, :, :])
                else:
                    # general floats: elementwise-inequality count, chunked
                    # over queries to bound the (nb, chunk, dim) bool cube
                    step = max(1, (1 << 24) // max(1, X.shape[0] * X.shape[1]))
                    D = np.concatenate(
                        [(X[:, None, :] != Q[None, lo : lo + step, :]).sum(axis=2) for lo in range(0, nq, step)],
                        axis=1,
                    )
                yield local_topk(qids, pdf["id"].values, D.astype(np.float64, copy=False), k, rescore)

        out_schema = scored_schema(frame.schema["query_id"].dataType, b.schema["id"].dataType)
        return topk_per_query(b.mapInPandas(_score, schema=out_schema), k)

    return per_query_batch(queries, search, hard_cap=hard_query_cap)
