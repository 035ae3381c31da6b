"""Integer-exact HITS (Kleinberg 1999) — authority/hub scores over a
directed graph, the second member of the graph-algorithm family
(operators/pagerank.py has the build/iterate split and the engine
contract this follows).

Dialect: L1-normalized HITS with fixed iterations. Per pass t:

    araw_t(v) = sum of h_{t-1}(u) over in-edges u -> v   (exact int)
    a_t(v)    = (araw_t(v) * SCALE) // S_a               (L1 renorm)
    hraw_t(u) = sum of a_t(w) over out-edges u -> w
    h_t(u)    = (hraw_t(u) * SCALE) // S_h

where S_a / S_h are the exact integer sums of araw/hraw. The renorm
products exceed int64, so they evaluate in 128-bit integer space on
BOTH engines — Spark DECIMAL(38,0) `DIV`, DuckDB HUGEINT `//` —
verified bit-equal. The per-pass sums are computed as exact
wide-integer aggregates (Spark decimal sum collected to a Python int,
DuckDB HUGEINT sum in a scalar subquery): one scalar per side per
pass, the same bounded-driver-state shape as PageRank's dangling mass.
Classic HITS normalizes by L2; the L1 form keeps every step integer
and changes only the scale, not the ranking. Nodes without in-edges
get authority 0; without out-edges, hub 0.

Scale: per pass, two edge-vs-score equi-joins (the score side is
node-sized — broadcast when small) + two key-partial aggs + two scalar
sums. The per-pass raw-score frames are localCheckpoint-ed (each feeds
two actions: the scalar sum and the renorm; checkpoint blocks are
node-sized and non-replicated — an executor loss mid-job fails the
query and the batch job reruns, the standard iterative-batch trade)
and tracked for release at the harness's next between-queries point
(ckpt.track, guide §5). Unchecked precondition: S_a and S_h must
stay below 2^63 — sum(h) * max_outdeg bounds them; with SCALE 1e12
that holds to ~10^6 average degree. Nothing checks it at run time:
past it the per-node long sums wrap silently (ANSI off) before the
decimal cast. The pass totals are exact decimal/HUGEINT sums, and
renorm keeps each int64 score at <= SCALE by construction.

Form history (OPTIMIZATION r13, VERDICT r12 #3): round 12 composed the
whole iteration into one job by riding each pass total as a one-row
broadcast crossJoin — and measured SLOWER in every full-bench record
(r11 collected form 5.2-5.7 s, composed 6.5-8.7 s at sf0.1): the six
lazy-checkpoint broadcast exchanges serialize exactly like collect
barriers (pass t+1 depends on pass t either way), but each adds a
BroadcastNestedLoopJoin that streams every node row per pass. A round-
13 intermediate that dropped the per-pass persist+count of the
renormed frames measured WORSE STILL (7.5-8.2 s bench context): an
un-persisted renorm is a projection over a checkpoint RDD scan whose
size statistics are unknown, so the planner cannot broadcast the
node-sized score side and every per-pass edge join degrades to a
sort-merge that re-shuffles the edge table. The r11 form's
persist+count is therefore LOAD-BEARING — it is what gives the
planner exact InMemoryRelation stats to broadcast the score side —
and this file restores it exactly, adding only the r13 lifecycle:
superseded per-pass caches unpersist inside the loop (r11 leaked the
three authority frames and the final hub) and the final pair plus
all checkpoints release between queries via the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oasisdb_spark.ckpt import track
from oasisdb_spark.operators.pagerank import GraphTopology

__all__ = ["hits_integer"]


def _renorm(df: DataFrame, raw_col: str, total: int, scale: int, out: str) -> DataFrame:
    if total <= 0:
        # degenerate graph (no edges contributed): all scores zero
        return df.select("node", F.lit(0).cast("long").alias(out))
    return df.select(
        "node",
        F.expr(
            f"CAST((CAST({raw_col} AS DECIMAL(38,0)) * {scale}) DIV {total} AS BIGINT)"
        ).alias(out),
    )


def _wide_sum(df: DataFrame, col: str) -> int:
    v = df.agg(F.sum(F.col(col).cast("decimal(38,0)"))).first()[0]
    return int(v) if v is not None else 0


def hits_integer(
    g: GraphTopology, iters: int = 3, scale: int = 10**12
) -> DataFrame:
    """(node, authority_scaled, hub_scaled) after ``iters`` exact
    integer passes over a built topology (operators/pagerank.py
    build_graph). Hubs initialize uniform at SCALE // N."""
    if iters < 1:
        raise ValueError(f"hits_integer: iters must be >= 1, got {iters}")
    if g.n < 1:
        raise ValueError("hits_integer: empty graph (no nodes)")
    n = g.n
    h = g.nodes.withColumn("h", F.lit(scale // n).cast("long")).persist()
    a = None
    from oasisdb_spark.ckpt import track_persist

    for _ in range(iters):
        araw = (
            g.e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("araw"))
        )
        # localCheckpoint: two actions consume this node-sized frame
        # (the scalar sum, then renorm) — checkpointing materializes it
        # once and cuts lineage WITHOUT the cached-plan path (a
        # .persist() here measured 8x SLOWER: InMemoryRelation plans
        # bypass AQE; localCheckpoint keeps downstream planning adaptive
        # — measured 10.5 s -> 6.9 s at sf0.1)
        araw_all = g.nodes.join(araw, "node", "left").select(
            "node", F.coalesce("araw", F.lit(0)).cast("long").alias("araw")
        ).localCheckpoint(eager=True)
        track(araw_all)  # released by the harness between queries
        s_a = _wide_sum(araw_all, "araw")
        # persist+count is LOAD-BEARING (see module docstring): the
        # exact InMemoryRelation stats are what let the planner
        # broadcast the node-sized score side into the next edge join
        nxt_a = _renorm(araw_all, "araw", s_a, scale, "authority_scaled").persist()
        nxt_a.count()
        if a is not None:
            a.unpersist()  # superseded pass (leaked before r13)
        a = nxt_a
        hraw = (
            g.e.join(
                a.withColumnRenamed("node", "dst").withColumnRenamed(
                    "authority_scaled", "av"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("av").alias("hraw"))
        )
        hraw_all = g.nodes.join(hraw, "node", "left").select(
            "node", F.coalesce("hraw", F.lit(0)).cast("long").alias("hraw")
        ).localCheckpoint(eager=True)  # same two-action split as araw_all
        track(hraw_all)
        s_h = _wide_sum(hraw_all, "hraw")
        nxt_h = _renorm(hraw_all, "hraw", s_h, scale, "h").persist()
        nxt_h.count()
        h.unpersist()
        h = nxt_h
    track_persist(a)  # the surviving pair releases between queries
    track_persist(h)
    return a.join(
        h.withColumnRenamed("h", "hub_scaled"), "node"
    ).select("node", "authority_scaled", "hub_scaled")
