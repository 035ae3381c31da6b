"""Flat (exact, brute-force) kNN — the ground-truth operator.

Reference: internal/index/flat.go:106-136 — distance to every stored
vector, full sort, take k. The reference sorts ALL candidates then
truncates (flat.go:125, a full O(n log n) sort per query); here top-k is
a per-query window rank, which Spark executes as a partial top-k per
shuffle partition before the final merge — already better than the
reference's physical strategy, and it parallelizes over both queries and
base vectors.

Scale notes (the plan you'd want at 100 TB):
- The query side is BROADCAST (query batches are small relative to the
  base table); the base table streams through executors once — no
  shuffle of the 100 TB side for the distance stage.
- The only shuffle is the top-k aggregation keyed by query_id, whose
  input is already cut to k rows per (partition, query) by the window's
  partial rank — i.e. shuffle volume is O(num_partitions * Q * k), not
  O(N * Q).
- For huge query batches where broadcast doesn't fit, fall back to
  ivf (cluster-pruned equi-join) — see index/ivf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oasisdb_spark.functions.distance import distance_expr

__all__ = ["knn_flat", "topk_per_query"]


def topk_per_query(
    scored: DataFrame,
    k: int,
    query_col: str = "query_id",
    dist_col: str = "distance",
    id_col: str = "id",
) -> DataFrame:
    """Top-k rows per query, ordered by (distance, id) — the id tiebreak
    makes results deterministic where the reference's full-sort order on
    ties is unspecified (flat.go:125 sort.Slice is not stable).

    asc_nulls_last: a NULL distance (a base row with a NULL vector
    through the Column-expression kernels) must rank WORST -- Spark's
    plain asc sorts NULLs first, which would put vectorless rows at the
    top of every result and diverge from DuckDB's NULLS LAST."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_flat(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    space: str = "l2",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Exact kNN: every query scored against every base vector.

    Returns (query_id, id, distance, rank). Equivalent of
    flat.go:106-136 Search / db/document.go:136-168 SearchVectors.

    Scores with the in-order float64 fold Column expression —
    bit-reproducible vs SQL oracles; interpreted, so fine for small
    scoring sets. It materializes the query×base pair join — for large
    exact scans use pipeline/ann.py's GEMM path (base scanned once,
    queries broadcast, ~30× over the expression), which search_vectors
    routes to."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")
        )
    )
    b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
    scored = q.join(b).select("query_id", "id", distance_expr(space, "query_vec", "vector").alias("distance"))
    return topk_per_query(scored, k)
