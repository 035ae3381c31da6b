"""Vector kernels shared by every index tier and the brute-force scan.

Each numeric kernel exists once here so the tiers cannot drift apart:
nearest-centroid assignment, distances from dot products, exact
distances by the in-order column fold, the per-batch top-k trim, the
one block scorer of the GEMM kernels (block_topk), the schema of scored
rows, the exact re-rank of a shortlist, and the partitioned write of
inverted lists. The kNN kernels that collect and broadcast their
queries share one query-batch path, per_query_batch.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasisdb_spark.functions.distance import distance_expr
from oasisdb_spark.index.flat import topk_per_query

__all__ = ["per_query_batch", "nearest_centroids", "distances_from_dots", "fold_distances", "local_topk", "block_topk", "packbits64", "popcount64", "scored_schema", "refine_exact", "write_lists"]

# Most queries one kernel pass collects and broadcasts: about 32 MB of
# 64-d float64. A larger query frame runs as several passes, each its
# own broadcast and scan, results unioned (SCALING.md).
QUERY_BATCH_ROWS = 65_536


def per_query_batch(
    queries: DataFrame, search: Callable[[DataFrame, list, np.ndarray], DataFrame], hard_cap: int | None = None
) -> DataFrame:
    """Collect the (query_id, query_vec) frame once and run
    search(frame, ids, vectors) on each batch of at most
    QUERY_BATCH_ROWS queries, unioning the results: frame is the batch
    as a (query_id, query_vec) DataFrame for the Spark side, ids and the
    (n, dim) float64 vectors are the same rows on the driver (an empty
    frame gives a (0,) array: no row to take the dim from). A frame that
    fits one batch is passed on as it is; a larger one is re-created
    batch by batch from the collected rows. hard_cap raises instead when
    there are more queries than that."""
    frame = queries.select("query_id", "query_vec")
    rows, n = frame.collect(), QUERY_BATCH_ROWS
    if hard_cap is not None and len(rows) > hard_cap:
        raise ValueError(
            f"query batch has {len(rows)} rows, over the caller's hard cap {hard_cap} — "
            "brute scoring at this size is quadratic; use an index or raise the cap explicitly"
        )

    def batch(part: DataFrame, part_rows: list) -> DataFrame:
        vectors = np.array([r["query_vec"] for r in part_rows], dtype=np.float64)
        return search(part, [r["query_id"] for r in part_rows], vectors)

    if len(rows) <= n:
        return batch(frame, rows)
    parts = [rows[lo : lo + n] for lo in range(0, len(rows), n)]
    return reduce(DataFrame.unionByName, [batch(frame.sparkSession.createDataFrame(p, frame.schema), p) for p in parts])


def nearest_centroids(x: np.ndarray, centroids: np.ndarray, p: int | None = None) -> np.ndarray:
    """Squared-L2 nearest centroid of each row of x, in float64
    (‖x‖² + ‖c‖² − 2x·c). p=None gives the (n,) argmin; an int p gives
    the (n, p) nearest p in (distance, centroid index) order."""
    x = x.astype(np.float64)
    c = centroids.astype(np.float64)
    d = (x**2).sum(axis=1)[:, None] + (c**2).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
    if p is None:
        return d.argmin(axis=1)
    return np.argsort(d, axis=1, kind="stable")[:, :p]


def distances_from_dots(space: str, dots: np.ndarray, x_sq: np.ndarray, q_sq: np.ndarray) -> np.ndarray:
    """l2 (squared) / ip (−dot) / cos (1−cos, zero norm → 1.0) distances
    from dot products and the squared norms of both sides. The three
    arrays only need to broadcast together: (nb, nq) dots with (nb, 1)
    and (1, nq) norms, or one dot per row with (n,) norms."""
    if space == "l2":
        # clamp: cancellation can push x²+q²-2xq slightly negative
        return np.maximum(x_sq + q_sq - 2.0 * dots, 0.0)
    if space == "ip":
        return -dots
    denom = np.sqrt(x_sq) * np.sqrt(q_sq)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, 1.0 - dots / denom, 1.0)


def fold_distances(space: str, q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Exact l2 (squared) / ip (−dot) / cos (1−cos, zero norm → 1.0)
    distance of each row pair (q[i], x[i]), as distance_expr(space, q, x)
    computes it: float64, summed one column at a time in order
    (acc += q[:, j] * x[:, j]). That fold is bit-identical to Spark's
    aggregate; numpy's .sum(axis=1) adds in another order and is not."""
    q, x = q.astype(np.float64, copy=False), x.astype(np.float64, copy=False)

    def fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(a))
        for j in range(a.shape[1]):
            acc += a[:, j] * b[:, j]
        return acc

    if space == "l2":
        d = q - x
        return fold(d, d)
    dots = fold(q, x)
    if space == "ip":
        return -dots
    nq, nx = np.sqrt(fold(q, q)), np.sqrt(fold(x, x))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((nq == 0.0) | (nx == 0.0), 1.0, 1.0 - dots / (nq * nx))


def local_topk(
    qids, ids: np.ndarray, D: np.ndarray, k: int, rescore: Callable[[np.ndarray, np.ndarray], np.ndarray] | None = None
) -> pd.DataFrame:
    """The k smallest of each column of an (nb, nq) distance matrix, in
    exact (distance, id) order, as (query_id, id, distance) rows.

    The batch is sorted by id, each column is partitioned to its k-th
    value (O(nb) per query, no full sort), every row strictly below it
    is kept, and the rows tied at it fill the rest in id order. So the
    rows that survive to the global (distance, id) merge are exactly the
    ones a full sort would keep. NaN distances sort last, as in Spark.

    rescore(rows, cols), when given, returns the distances emitted for
    the kept positions of D (rows index the batch as passed in) in place
    of D's own: D then only chooses the survivors."""
    order = np.argsort(ids, kind="stable")
    ids, D = ids[order], D[order]
    kk = min(k, len(ids))
    kth = np.partition(D, kk - 1, axis=0)[kk - 1]
    nan, kth_nan = np.isnan(D), np.isnan(kth)
    below = (D < kth) | (kth_nan & ~nan)
    tied = (D == kth) | (kth_nan & nan)
    keep = below | (tied & (np.cumsum(tied, axis=0) <= kk - below.sum(axis=0)))
    cols, rows = np.nonzero(keep.T)
    distance = D[rows, cols] if rescore is None else rescore(order[rows], cols)
    return pd.DataFrame({"query_id": np.asarray(qids)[cols], "id": ids[rows], "distance": distance})


def packbits64(M: np.ndarray) -> np.ndarray:
    """(n, dim) 0/1 floats → (n, ceil(dim/64)) uint64 bit words."""
    bits = (M != 0).astype(np.uint8)
    pad = (-bits.shape[1]) % 64
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits, axis=1).view(np.uint64)


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def popcount64(words: np.ndarray) -> np.ndarray:
    """Popcount over the last axis of a uint64 array via a byte LUT."""
    b = words.view(np.uint8).reshape(*words.shape[:-1], 8 * words.shape[-1])
    return _POP8[b].sum(axis=-1, dtype=np.int64)


def block_topk(
    qids, Q: np.ndarray, k: int, space: str, dtype: type = np.float64
) -> Callable[[np.ndarray, np.ndarray], pd.DataFrame]:
    """The block scorer of the GEMM kernels: score(ids, X) gives the
    local_topk rows of one non-empty (nb, dim) block X of base rows
    (ids) against the (nq, dim) float64 queries Q (qids). The query side
    is prepared once, here, for every block scored against it.

    l2 / ip / cos: a GEMM in dtype picks each query's survivors and
    fold_distances scores them, so a distance is distance_expr's bit for
    bit whatever the dtype or the number of queries in the BLAS call
    (OpenBLAS picks its kernel by call shape). hamming: XOR + popcount
    over packed uint64 words when both sides are 0/1 (a 64x cut in
    compared elements), else the elementwise-inequality count, chunked
    over queries to bound the (nb, chunk, dim) bool cube; both exact.
    No queries give no rows."""
    if len(qids) == 0:  # an empty query frame's vectors have no dim
        return lambda ids, X: local_topk(qids, ids, np.empty((len(ids), 0)), k)
    if space != "hamming":
        Qm, q_sq = Q.astype(dtype), (Q**2).sum(axis=1)

        def score(ids: np.ndarray, X: np.ndarray) -> pd.DataFrame:
            G = (X.astype(dtype, copy=False) @ Qm.T).astype(np.float64)  # (nb, nq) dot products
            D = distances_from_dots(space, G, (X**2).sum(axis=1)[:, None], q_sq[None, :])
            return local_topk(qids, ids, D, k, lambda rows, cols: fold_distances(space, Q[cols], X[rows]))

        return score
    q_packed = packbits64(Q) if np.isin(Q, (0.0, 1.0)).all() else None

    def score(ids: np.ndarray, X: np.ndarray) -> pd.DataFrame:
        if q_packed is not None and np.isin(X, (0.0, 1.0)).all():
            D = popcount64(packbits64(X)[:, None, :] ^ q_packed[None, :, :])
        else:
            step = max(1, (1 << 24) // max(1, X.shape[0] * X.shape[1]))
            D = np.concatenate(
                [(X[:, None, :] != Q[None, lo : lo + step, :]).sum(axis=2) for lo in range(0, len(Q), step)],
                axis=1,
            )
        return local_topk(qids, ids, D.astype(np.float64), k)

    return score


def scored_schema(
    qid_type: T.DataType, id_type: T.DataType, distance_type: T.DataType = T.DoubleType()
) -> T.StructType:
    """Schema of the (query_id, id, distance) rows a scoring kernel emits."""
    return T.StructType([
        T.StructField("query_id", qid_type, True),
        T.StructField("id", id_type, True),
        T.StructField("distance", distance_type, True),
    ])


def refine_exact(
    shortlist: DataFrame, queries: DataFrame, refine_base: DataFrame, k: int, space: str
) -> DataFrame:
    """Exact re-rank of a (query_id, id) shortlist: join the original
    (id, vector) rows and the broadcast (query_id, query_vec) queries,
    score with the declared metric, keep the top k per query."""
    rescored = (
        shortlist.select("query_id", "id")
        .join(refine_base.select("id", "vector"), on="id")
        .join(F.broadcast(queries), on="query_id")
        .select("query_id", "id", distance_expr(space, "query_vec", "vector").alias("distance"))
    )
    return topk_per_query(rescored, k)


def write_lists(df: DataFrame, path: str, mode: str) -> None:
    """Write inverted lists partitioned by cluster_id. Repartitioning on
    the partition column first makes one task write each list (one file
    per cluster) instead of every task opening every partition dir —
    measured 2.4× faster at 200k rows / 256 lists."""
    df.repartition("cluster_id").write.mode(mode).partitionBy("cluster_id").parquet(path)
