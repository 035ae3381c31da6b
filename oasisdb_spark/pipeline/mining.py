"""Hard-negative mining for retrieval/embedding training.

Contrastive training of retrieval embedders (DPR, E5/GTE-class models)
needs, for every query, the nearest candidates that are NOT relevant —
"hard negatives". This operator is exact top-k with exclusions applied
BEFORE ranking (over-fetch-then-filter is wrong: a query whose k
nearest are all positives would return fewer than k negatives).

Two exclusion mechanisms, composable:
- ``exclude_pairs``: an explicit (query_id, id) relevance set (known
  positives) dropped by a broadcast anti-join — relevance sets are
  O(queries x positives-per-query), dimension-sized next to the corpus.
- ``neq_pair``: a (query_col, base_col) pair whose EQUALITY excludes
  the candidate (e.g. same class label, same source document) — a
  scan-stage filter on the pair join, zero extra cost.

Scale shape mirrors index/flat.py knn_flat: queries broadcast, the base
streams through once, the only shuffle is the per-query top-k whose
input the window's partial rank already cut to k rows per partition.
For 100 TB bases swap the scorer for the IVF probe join and apply the
same exclusions to its candidate set (the filters are plain Columns /
anti-joins over (query_id, id) and compose with any candidate
generator).

Distances are in-order float64 fold Column expressions
(functions/distance.py), bit-reproducible vs the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oasisdb_spark.functions.distance import distance_expr, vector_indexable
from oasisdb_spark.index.flat import topk_per_query

__all__ = [
    "hard_negatives",
    "hard_negatives_from_candidates",
    "mine_candidates_broadcast",
    "mutual_knn_pairs",
    "mutual_knn_pairs_ivf",
    "mutual_pairs_from_edges",
    "contrastive_triplets",
]


def mine_candidates_broadcast(
    df: DataFrame,
    queries: DataFrame,
    space: str = "l2",
    max_distance: float | None = None,
    neq_pair: tuple[str, str] | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """STREAMABLE hard-negative candidate generation: score each
    arriving base vector against a broadcast query set in one stateless
    Arrow pass, emitting (query_id, id, distance) for every surviving
    pair — the "mine negatives as vectors arrive" deployment. The
    per-query top-k SELECTION is stateful across a stream and stays
    downstream (hard_negatives_from_candidates per micro-batch window,
    or batch); candidate generation at ingest is the stateless part,
    the same broadcast-Arrow-pass shape as dsir_score_broadcast /
    lm_score_broadcast.

    Exclusions fuse into the pass: ``neq_pair`` = (queries-side column,
    df-side column) drops definite equals only (eqNullSafe semantics —
    NULL-vs-non-NULL survives, NULL-vs-NULL is excluded — identical to
    hard_negatives); ``max_distance`` keeps strictly-closer pairs,
    bounding emitted rows to the interesting neighborhood.

    Determinism: distances are IN-ORDER float64 folds over dimensions,
    vectorized over rows (each numpy elementwise op is exact IEEE
    double, so the per-pair fold order equals the Column-expression
    fold in functions/distance.py and DuckDB's list_sum) — outputs are
    row-identical to the batch cross-join path and the batch oracle
    applies. Supported spaces: l2 (squared), ip (-dot).
    """
    import pandas as pd
    from pyspark.sql import types as T

    if space not in ("l2", "ip"):
        raise ValueError(
            f"mine_candidates_broadcast: space={space!r} not supported "
            "(l2/ip are in-order-fold reproducible; cosine needs the "
            "batch path's normalized fold)"
        )
    # indexable-rows contract (the _emb_base convention): NULL ids /
    # NULL vectors can be neither queries nor candidates — and a NULL
    # vector kills both np.asarray packers below. .where() is
    # streaming-safe (stateless filter), so the same exclusion guards
    # the structured-streaming callers.
    df = df.where(F.col(id_col).isNotNull() & vector_indexable(vec_col))
    queries = queries.where(
        F.col(query_id_col).isNotNull() & vector_indexable(query_vec_col)
    )
    q_cols = [query_id_col, query_vec_col] + ([neq_pair[0]] if neq_pair else [])
    q_rows = queries.select(*q_cols).collect()
    if not q_rows:
        raise ValueError("mine_candidates_broadcast: empty query set")
    q_ids = [r[query_id_col] for r in q_rows]
    q_mat = np.asarray([list(r[query_vec_col]) for r in q_rows], dtype=np.float64)
    q_meta = [r[neq_pair[0]] if neq_pair else None for r in q_rows]
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat, q_meta))

    base_cols = [id_col, vec_col] + ([neq_pair[1]] if neq_pair else [])
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("distance", T.DoubleType()),
        ]
    )

    def _score(batches):
        ids, Q, metas = bc.value
        nq, d = Q.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
            acc = np.zeros((len(pdf), nq), dtype=np.float64)
            if space == "l2":
                for i in range(d):  # in-order fold over dims, vectorized over pairs
                    t = B[:, i, None] - Q[None, :, i]
                    acc += t * t
            else:  # ip: -dot
                for i in range(d):
                    acc -= B[:, i, None] * Q[None, :, i]
            keep = np.ones((len(pdf), nq), dtype=bool)
            if neq_pair is not None:
                # Arrow hands nullable ints to pandas as NaN — treat
                # None and NaN both as SQL NULL
                bm = [None if pd.isna(b) else b for b in pdf[neq_pair[1]].tolist()]
                for j, qm in enumerate(metas):
                    # eqNullSafe: exclude (both NULL) or (equal non-NULL)
                    keep[:, j] = [
                        not ((b is None and qm is None) or (b is not None and qm is not None and b == qm))
                        for b in bm
                    ]
            if max_distance is not None:
                keep &= acc < max_distance
            ri, qi = np.nonzero(keep)
            if len(ri) == 0:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[ri],
                    "query_id": [ids[j] for j in qi],
                    "distance": acc[ri, qi],
                }
            )

    return df.select(*base_cols).mapInPandas(_score, schema=out_schema).select(
        "query_id", id_col, "distance"
    )


def hard_negatives_from_candidates(
    candidates: DataFrame,
    k: int,
    exclude_pairs: DataFrame | None = None,
    neq_pair: tuple[str, str] | None = None,
    query_id_col: str = "query_id",
    id_col: str = "id",
    dist_col: str = "distance",
) -> DataFrame:
    """Exclusion + top-k over an EXTERNALLY generated candidate set —
    the 100 TB composition: feed it `index/ivf.py knn_ivf` shortlists
    (over-fetch k' > k so exclusions don't starve the list; mining from
    an ANN shortlist is the standard approximate practice) or any other
    scored (query_id, id, distance, *meta) frame. ``neq_pair`` names
    two columns OF THE CANDIDATE FRAME whose equal values disqualify
    the row; ``exclude_pairs`` anti-joins known positives. Ranks are
    renumbered 1..k after exclusion."""
    pairs = candidates
    if neq_pair is not None:
        pairs = pairs.filter(~F.col(neq_pair[0]).eqNullSafe(F.col(neq_pair[1])))
    if exclude_pairs is not None:
        ex = exclude_pairs.select(
            F.col(query_id_col).alias(query_id_col), F.col(id_col).alias(id_col)
        )
        pairs = pairs.join(F.broadcast(ex), on=[query_id_col, id_col], how="left_anti")
    return topk_per_query(
        pairs, k, query_col=query_id_col, dist_col=dist_col, id_col=id_col
    ).select(
        query_id_col, id_col, "rank", F.col(dist_col).cast("double").alias(dist_col)
    )


def hard_negatives(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    space: str = "l2",
    exclude_pairs: DataFrame | None = None,
    neq_pair: tuple[str, str] | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Top-k nearest NON-relevant candidates per query.

    Returns (query_id, id, rank, distance) with rank 1..k over the
    candidates that survive the exclusions (deterministic: distance,
    then id). ``exclude_pairs`` must have columns (query_id_col,
    id_col); ``neq_pair`` names (query-side column, base-side column)
    whose equal values disqualify the pair.
    """
    q_cols = [F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")]
    b_cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("vector")]
    if neq_pair is not None:
        q_cols.append(F.col(neq_pair[0]).alias("_q_meta"))
        b_cols.append(F.col(neq_pair[1]).alias("_b_meta"))
    pairs = base.select(*b_cols).crossJoin(F.broadcast(queries.select(*q_cols)))
    if neq_pair is not None:
        # NULL meta never disqualifies (NULL <=> NULL is true equality
        # under null-safe compare; we exclude only definite matches)
        pairs = pairs.filter(~F.col("_q_meta").eqNullSafe(F.col("_b_meta")))
    if exclude_pairs is not None:
        ex = exclude_pairs.select(
            F.col(query_id_col).alias("query_id"), F.col(id_col).alias("id")
        )
        pairs = pairs.join(F.broadcast(ex), on=["query_id", "id"], how="left_anti")
    scored = pairs.select(
        "query_id",
        "id",
        distance_expr(space, "query_vec", "vector").alias("distance"),
    )
    return topk_per_query(scored, k).select(
        "query_id", "id", "rank", F.col("distance").cast("double").alias("distance")
    )


def contrastive_triplets(
    queries: DataFrame,
    base: DataFrame,
    n_neg: int,
    space: str = "l2",
    label_pair: tuple[str, str] = ("qlabel", "label"),
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Contrastive training triplets: per anchor, the nearest SAME-label
    non-self candidate (the positive) paired with the top-n_neg nearest
    DIFFERENT-label candidates (the hard negatives) — the (anchor,
    positive, negatives) construction contrastive/embedding training
    consumes (InfoNCE/triplet-loss batches).

    Returns one row per (anchor, negative rank): (query_id, pos_id,
    pos_distance, neg_id, neg_rank, neg_distance). Anchors with no
    same-label non-self candidate produce no rows (an inner join — a
    singleton-label anchor has no positive to learn from); anchors with
    fewer than n_neg different-label candidates under-fill, exactly as
    hard_negatives does. Positive selection requires DEFINITE label
    equality (NULL labels never match, mirroring SQL `=`); the negative
    side's exclusion uses eqNullSafe, mirroring hard_negatives.

    Scale: the base streams TWICE against the broadcast anchor batch
    (once per side), each side trimmed by the same per-partition
    partial top-k as every kNN operator; the final join is anchor-keyed
    over <= |anchors| * max(1, n_neg) rows."""
    if n_neg < 1:
        raise ValueError(f"contrastive_triplets: n_neg must be >= 1, got {n_neg}")
    qlab, blab = label_pair
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
        F.col(qlab).alias("_q_meta"),
    )
    b = base.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vector"),
        F.col(blab).alias("_b_meta"),
    )
    pos_pairs = (
        b.crossJoin(F.broadcast(q))
        .filter(
            (F.col("_q_meta") == F.col("_b_meta"))
            & (F.col("query_id") != F.col("id"))
        )
        .select(
            "query_id", "id",
            distance_expr(space, "query_vec", "vector").alias("distance"),
        )
    )
    pos = topk_per_query(pos_pairs, 1).select(
        "query_id",
        F.col("id").alias("pos_id"),
        F.col("distance").cast("double").alias("pos_distance"),
    )
    neg = hard_negatives(
        queries, base, k=n_neg, space=space, neq_pair=label_pair,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        id_col=id_col, vec_col=vec_col,
    ).select(
        "query_id",
        F.col("id").alias("neg_id"),
        F.col("rank").alias("neg_rank"),
        F.col("distance").alias("neg_distance"),
    )
    return pos.join(neg, "query_id")


def mutual_pairs_from_edges(
    nn: DataFrame,
    query_col: str = "query_id",
    id_col: str = "id",
    dist_col: str = "distance",
) -> DataFrame:
    """The mutuality tail over ANY directed kNN edge list: normalize
    each (query → neighbor) edge to its unordered pair, count per pair
    in ONE pair-keyed partial agg — a pair is mutual iff BOTH directions
    arrive (count = 2). Requires each directed edge at most once (any
    top-k output satisfies this) and a symmetric distance. Mutuality is
    a property of the edge list, not of the scorer, so this tail
    composes with the brute GEMM scan, the IVF probe shortlist, or any
    external candidate generator."""
    return (
        nn.select(
            F.least(query_col, id_col).alias("id_a"),
            F.greatest(query_col, id_col).alias("id_b"),
            F.col(dist_col).alias("distance"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_both"),
            F.min("distance").cast("double").alias("distance"),
        )
        .where(F.col("_both") == 2)
        .drop("_both")
    )


def mutual_knn_pairs(
    base: DataFrame,
    k: int,
    space: str = "l2",
    id_col: str = "id",
    vec_col: str = "vector",
    max_base_rows: int = 100_000,
) -> DataFrame:
    """Reciprocal k-nearest-neighbor pairs over one embedding table:
    (id_a, id_b, distance) with id_a < id_b where EACH side ranks the
    other in its top-k (self excluded, (distance, id) tie-break — the
    topk_per_query order). Mutual-NN is the high-precision matching
    rule of bitext mining (Artetxe & Schwenk, ACL'19) and the
    candidate filter embedding-dedup pipelines use to kill the
    hub-match false positives one-directional kNN produces.

    Shape: the self-kNN is pipeline/ann.py's knn_brute_batched — the
    base streams once against the broadcast query copy, each Arrow
    batch scored as ONE matrix multiply whose survivors the in-order
    float64 fold re-scores, so distances equal knn_flat's (the sf1
    smoke measured the Column-expression cross join 30x slower). Then
    mutuality is ONE pair-keyed partial agg — each directed edge
    normalizes to its unordered pair and a pair is mutual iff BOTH
    directions arrive (count = 2). No self-join of the neighbor frame,
    so the expensive scoring plan is never replayed. Distances must be
    symmetric for the pair collapse (l2 / cosine / hamming; NOT raw
    inner product). For bases that cannot brute-scan, feed the IVF
    candidate set through the same normalize-and-count tail —
    mutuality is a property of the (query_id, id) edge list, not of
    the scorer.

    ``max_base_rows``: brute self-kNN is O(N²) distance computations by
    definition, so the base is loudly capped (the skyline
    ``max_candidates`` discipline). Bases past the cap must use
    :func:`mutual_knn_pairs_ivf` (sub-quadratic: probe-pruned candidate
    generation, same mutuality tail; at nprobe=nlist it reproduces this
    function exactly). The cap is checked for free on the query collect
    the kernel pays anyway (the query set IS the base)."""
    if space == "ip":
        raise ValueError(
            "mutual_knn_pairs: inner product is not symmetric; use l2/cos/hamming"
        )
    from oasisdb_spark.pipeline.ann import knn_brute_batched

    # indexable-rows contract: a NULL id cannot name a pair endpoint and
    # a NULL vector has no neighbors (and kills the GEMM packer inside
    # np.asarray) — exclude, the _emb_base convention
    base = base.where(F.col(id_col).isNotNull() & vector_indexable(vec_col))
    q = base.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
    raw = knn_brute_batched(
        q, b, k + 1, space=space, gemm_dtype="float64", hard_query_cap=max_base_rows
    )
    return mutual_pairs_from_edges(_drop_self(raw, k))


def _drop_self(raw: DataFrame, k: int) -> DataFrame:
    """The top-k edges of a k+1 self-kNN: self (which rides along at
    distance 0) dropped by id, ranks recomputed, so a duplicate vector
    at distance 0 can never evict a true neighbor."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    return (
        raw.where(F.col("query_id") != F.col("id"))
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .drop("_r", "rank")
    )


def mutual_knn_pairs_ivf(
    base: DataFrame,
    centroids: np.ndarray,
    index_df: DataFrame,
    k: int,
    nprobe: int,
    space: str = "l2",
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Reciprocal kNN pairs over an IVF index — the sub-quadratic
    composition for bases the brute scan cannot touch: self-kNN runs as
    the probe-pruned IVF search (each query scores only its nprobe
    nearest inverted lists, ~nprobe/nlist of the base instead of all of
    it), then the SAME normalize-and-count mutuality tail as
    :func:`mutual_knn_pairs`. At nprobe = nlist every list is probed,
    so the result is EXACTLY the brute pair set (the full-probe ≡ exact
    trick hard_negatives_ivf / knn_ivf use for their SQL oracles); at
    partial probes pairs inherit IVF recall — a pair survives only if
    each side finds the other through its probes, which is the
    precision-biased direction mutual-NN wants.

    The whole base is the query set, so the search is
    index/ivf.py's knn_ivf_cogrouped: the probe edge list is never
    broadcast but cogroups with the inverted lists on cluster_id, and
    each cluster scores as one matrix multiply whose local top-k the
    in-order fold re-scores — the |base|·nprobe/nlist·|base| candidate
    rows never materialize, and the distances are knn_ivf's."""
    if space == "ip":
        raise ValueError(
            "mutual_knn_pairs_ivf: inner product is not symmetric; use l2/cos/hamming"
        )
    from oasisdb_spark.index.ivf import knn_ivf_cogrouped

    # indexable-rows contract (the _emb_base convention): NULL ids /
    # NULL vectors cannot be pair endpoints or probe queries
    base = base.where(F.col(id_col).isNotNull() & vector_indexable(vec_col))
    q = base.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    raw = knn_ivf_cogrouped(q, centroids, index_df, k + 1, nprobe=nprobe, space=space)
    return mutual_pairs_from_edges(_drop_self(raw, k))
