"""Hard-negative mining (pipeline/mining.py): exclusion-before-ranking
semantics vs brute force."""

import pytest
from pyspark.sql import functions as F

from oasisdb_spark.pipeline.mining import hard_negatives


@pytest.fixture(scope="module")
def vecs(spark):
    # 2-d points; label = cluster. Query 0 at origin, its own cluster
    # (label 0) is nearest — so same-label exclusion MUST change results.
    rows = [
        (0, [0.0, 0.0], 0), (1, [0.1, 0.0], 0), (2, [0.0, 0.2], 0),
        (3, [1.0, 0.0], 1), (4, [1.1, 0.1], 1),
        (5, [0.0, 3.0], 2), (6, [0.1, 3.0], 2),
    ]
    return spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>, label INT")


def q(vecs, ids):
    return vecs.filter(F.col("id").isin(ids)).select(
        F.col("id").alias("query_id"), F.col("vector").alias("query_vec"),
        F.col("label").alias("qlabel"),
    )


def test_same_label_excluded_before_ranking(spark, vecs):
    out = hard_negatives(
        q(vecs, [0]), vecs, k=3, neq_pair=("qlabel", "label")
    ).collect()
    got = [(r["rank"], r["id"]) for r in sorted(out, key=lambda r: r["rank"])]
    # nearest overall are 1, 2 (label 0 — excluded); negatives are 3, 4, then 5
    assert got == [(1, 3), (2, 4), (3, 5)]


def test_exclude_pairs_drops_known_positives(spark, vecs):
    ex = spark.createDataFrame([(0, 3), (0, 4)], "query_id LONG, id LONG")
    out = hard_negatives(
        q(vecs, [0]), vecs, k=2, neq_pair=("qlabel", "label"), exclude_pairs=ex
    ).collect()
    got = [(r["rank"], r["id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(1, 5), (2, 6)]


def test_no_exclusions_equals_knn_flat(spark, vecs):
    from oasisdb_spark.index.flat import knn_flat

    queries = q(vecs, [0, 3]).drop("qlabel")
    a = sorted(map(tuple, hard_negatives(queries, vecs, k=4).collect()))
    b = sorted(
        (r["query_id"], r["id"], r["rank"], float(r["distance"]))
        for r in knn_flat(queries, vecs, k=4).select(
            "query_id", "id", "rank", F.col("distance").cast("double").alias("distance")
        ).collect()
    )
    assert a == b


def test_short_of_k_returns_what_exists(spark, vecs):
    # query labeled 0 with all of labels 1 and 2 excluded -> only 4 rows
    ex = spark.createDataFrame([(0, i) for i in (3, 4)], "query_id LONG, id LONG")
    out = hard_negatives(
        q(vecs, [0]), vecs, k=10, neq_pair=("qlabel", "label"), exclude_pairs=ex
    ).collect()
    assert sorted(r["id"] for r in out) == [5, 6]


def test_candidates_path_matches_exact_when_candidates_complete(spark, vecs):
    """hard_negatives_from_candidates over a COMPLETE scored candidate
    set must equal the exact operator (the ANN composition's recall
    loss comes only from shortlist truncation, not the re-rank)."""
    from oasisdb_spark.functions.distance import distance_expr
    from oasisdb_spark.pipeline.mining import hard_negatives_from_candidates

    queries = q(vecs, [0, 5])
    full = vecs.crossJoin(
        queries.withColumnRenamed("qlabel", "qlabel")
    ).select(
        "query_id", "id", F.col("qlabel"), F.col("label").alias("blabel"),
        distance_expr("l2", "query_vec", "vector").alias("distance"),
    )
    a = sorted(map(tuple, hard_negatives_from_candidates(
        full, k=3, neq_pair=("qlabel", "blabel")).collect()))
    b = sorted(map(tuple, hard_negatives(
        queries, vecs, k=3, neq_pair=("qlabel", "label")).collect()))
    assert a == b


def test_mine_candidates_matches_batch_cross_join(spark, vecs):
    """mine_candidates_broadcast (the streamable Arrow pass) must be
    row-identical — ids AND bit-exact distances — to the batch
    cross-join + filter path it twins."""
    from oasisdb_spark.functions.distance import distance_expr
    from oasisdb_spark.pipeline.mining import mine_candidates_broadcast

    queries = q(vecs, [0, 3])
    got = sorted(
        map(tuple, mine_candidates_broadcast(
            vecs, queries, space="l2", max_distance=2.0,
            neq_pair=("qlabel", "label"),
        ).collect())
    )
    batch = (
        vecs.crossJoin(F.broadcast(queries))
        .filter(~F.col("qlabel").eqNullSafe(F.col("label")))
        .select(
            "query_id", "id",
            distance_expr("l2", "query_vec", "vector").alias("distance"),
        )
        .filter(F.col("distance") < 2.0)
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_mine_candidates_null_label_semantics(spark):
    """eqNullSafe exclusion: NULL-vs-non-NULL pairs SURVIVE (a doc with
    unknown label is still a candidate negative), NULL-vs-NULL pairs
    are excluded — identical to hard_negatives' batch filter."""
    from oasisdb_spark.pipeline.mining import mine_candidates_broadcast

    base = spark.createDataFrame(
        [(0, [0.0], None), (1, [1.0], 7), (2, [2.0], None)],
        "id LONG, vector ARRAY<DOUBLE>, label INT",
    )
    queries = spark.createDataFrame(
        [(100, [0.0], None), (101, [0.0], 7)],
        "query_id LONG, query_vec ARRAY<DOUBLE>, qlabel INT",
    )
    out = mine_candidates_broadcast(
        base, queries, space="l2", neq_pair=("qlabel", "label")
    ).collect()
    pairs = {(r["query_id"], r["id"]) for r in out}
    # NULL-label query 100: excludes NULL-label base 0 and 2, keeps 1
    # label-7 query 101: excludes label-7 base 1, keeps NULL-label 0 and 2
    assert pairs == {(100, 1), (101, 0), (101, 2)}


def test_mine_candidates_ip_space_and_validation(spark, vecs):
    from oasisdb_spark.functions.distance import distance_expr
    from oasisdb_spark.pipeline.mining import mine_candidates_broadcast

    queries = q(vecs, [0]).drop("qlabel")
    got = sorted(
        map(tuple, mine_candidates_broadcast(vecs, queries, space="ip").collect())
    )
    want = sorted(
        map(tuple, vecs.crossJoin(F.broadcast(queries)).select(
            "query_id", "id",
            distance_expr("ip", "query_vec", "vector").alias("distance"),
        ).collect())
    )
    assert got == want
    with pytest.raises(ValueError, match="not supported"):
        mine_candidates_broadcast(vecs, queries, space="cos")


def test_ivf_shortlist_full_overfetch_equals_exact(spark, vecs):
    """hard_negatives_from_candidates over a FULL shortlist (k' = N)
    must equal the exact hard_negatives tier; a starved shortlist
    (k' too small, all same-label) under-fills — the documented
    ANN-shortlist semantics the driver's hard_negatives_ivf oracle
    pins."""
    from oasisdb_spark.index.flat import knn_flat
    from oasisdb_spark.pipeline.mining import (
        hard_negatives,
        hard_negatives_from_candidates,
    )

    queries = q(vecs, [0])
    n = vecs.count()

    def shortlist(kprime):
        cand = knn_flat(queries.drop("qlabel"), vecs, k=kprime, space="l2")
        return (
            cand.join(F.broadcast(queries.select("query_id", "qlabel")), on="query_id")
            .join(vecs.select(F.col("id"), F.col("label").alias("blabel")), on="id")
        )

    full = hard_negatives_from_candidates(
        shortlist(n), k=3, neq_pair=("qlabel", "blabel")
    )
    exact = hard_negatives(queries, vecs, k=3, neq_pair=("qlabel", "label"))
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))
    # shortlist of 3: query 0's top-3 are ids 0,1,2 — all label 0 —
    # so the starved list yields ZERO negatives (under-fill, not error)
    starved = hard_negatives_from_candidates(
        shortlist(3), k=3, neq_pair=("qlabel", "blabel")
    )
    assert starved.count() == 0


def test_contrastive_triplets_shape_and_values(spark, vecs):
    from oasisdb_spark.pipeline.mining import contrastive_triplets

    out = contrastive_triplets(
        q(vecs, [0]), vecs, n_neg=2, label_pair=("qlabel", "label")
    ).collect()
    # positive = nearest same-label non-self: id 1 (d²=0.01)
    # negatives = nearest different-label: id 3 (d²=1.0), id 4 (d²=1.22)
    assert len(out) == 2
    for r in out:
        assert r["pos_id"] == 1 and abs(r["pos_distance"] - 0.01) < 1e-12
    got = {(r["neg_rank"], r["neg_id"]) for r in out}
    assert got == {(1, 3), (2, 4)}


def test_contrastive_triplets_singleton_label_anchor_dropped(spark):
    from oasisdb_spark.pipeline.mining import contrastive_triplets

    rows = [(0, [0.0], 0), (1, [1.0], 1), (2, [2.0], 1)]
    vecs = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>, label INT")
    queries = vecs.select(
        F.col("id").alias("query_id"), F.col("vector").alias("query_vec"),
        F.col("label").alias("qlabel"),
    )
    out = contrastive_triplets(queries, vecs, n_neg=1).collect()
    # anchor 0 has no same-label partner -> dropped; anchors 1, 2 pair up
    assert sorted((r["query_id"], r["pos_id"], r["neg_id"]) for r in out) == [
        (1, 2, 0), (2, 1, 0),
    ]


def test_contrastive_triplets_null_label_never_positive(spark):
    from oasisdb_spark.pipeline.mining import contrastive_triplets

    rows = [(0, [0.0], None), (1, [1.0], None), (2, [2.0], 1), (3, [3.0], 1)]
    vecs = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>, label INT")
    queries = vecs.select(
        F.col("id").alias("query_id"), F.col("vector").alias("query_vec"),
        F.col("label").alias("qlabel"),
    )
    out = contrastive_triplets(queries, vecs, n_neg=4).collect()
    # NULL-label anchors have no positive (definite equality required)
    assert {r["query_id"] for r in out} == {2, 3}
    # and NULL-label vectors are NOT negatives for NULL-label anchors
    # (eqNullSafe exclusion) but ARE candidates for labeled anchors
    neg_ids_for_2 = {r["neg_id"] for r in out if r["query_id"] == 2}
    assert neg_ids_for_2 == {0, 1}


def test_contrastive_triplets_bad_params(spark, vecs):
    from oasisdb_spark.pipeline.mining import contrastive_triplets

    with pytest.raises(ValueError):
        contrastive_triplets(q(vecs, [0]), vecs, n_neg=0)


# --- mutual_knn_pairs -----------------------------------------------------


def _mutual_brute(vecs, k):
    import math

    ids = sorted(vecs)
    def d(a, b):
        return math.fsum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))
    topk = {
        a: {b for b in sorted((b for b in ids if b != a),
                              key=lambda b: (d(a, b), b))[:k]}
        for a in ids
    }
    return {
        (a, b): d(a, b)
        for a in ids for b in ids
        if a < b and b in topk[a] and a in topk[b]
    }


def test_mutual_knn_matches_brute_and_drops_one_directional(spark):
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs

    # a tight cluster {0,1,2} + an outlier 9 whose top-1 is in the
    # cluster, but the cluster's top-1s are each other -> 9 pairs with
    # nobody at k=1 (the classic hub/one-directional case)
    vecs = {
        0: [0.0, 0.0],
        1: [0.1, 0.0],
        2: [0.0, 0.12],
        9: [5.0, 5.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "id LONG, vector ARRAY<DOUBLE>"
    )
    for k in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"]): r["distance"]
            for r in mutual_knn_pairs(df, k=k).collect()
        }
        want = _mutual_brute(vecs, k)
        assert got.keys() == want.keys(), f"k={k}"
        for p, dist in want.items():
            assert abs(got[p] - dist) < 1e-12
    assert (9 not in {i for p in _mutual_brute(vecs, 1) for i in p})


def test_mutual_knn_partitioning_invariance_and_ip_rejected(spark):
    import pytest as _pytest

    from oasisdb_spark.pipeline.mining import mutual_knn_pairs

    rows = [(i, [float((i * 7) % 13), float((i * 3) % 11)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    base = sorted(map(tuple, mutual_knn_pairs(df, k=4).collect()))
    rep = sorted(map(tuple, mutual_knn_pairs(df.repartition(11), k=4).collect()))
    assert base == rep and base
    with _pytest.raises(ValueError):
        mutual_knn_pairs(df, k=4, space="ip")


def test_mutual_knn_matches_flat_reference(spark, embeddings):
    """mutual_knn_pairs equals a reference built from the Column spec:
    knn_flat at k+1, self dropped, ranks recomputed, then the mutuality
    tail — pairs and distances unrounded."""
    from pyspark.sql import Window

    from oasisdb_spark.functions.distance import vector_indexable
    from oasisdb_spark.index.flat import knn_flat
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs, mutual_pairs_from_edges

    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(vector_indexable("vector"))
    q = emb.select(F.col("id").alias("query_id"), F.col("vector").alias("query_vec"))
    w = Window.partitionBy("query_id").orderBy("distance", "id")
    nn = (
        knn_flat(q, emb, k=6).where(F.col("query_id") != F.col("id"))
        .withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)
    )
    want = sorted(map(tuple, mutual_pairs_from_edges(nn).collect()))
    assert sorted(map(tuple, mutual_knn_pairs(emb, k=5).collect())) == want and want


def test_mutual_knn_base_guard_raises(spark):
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs

    rows = [(i, [float(i), 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    # the cap is checked on the kernel's query collect (no extra job)
    with pytest.raises(ValueError, match="hard cap"):
        mutual_knn_pairs(df, k=2, max_base_rows=10)
    # raising the cap explicitly unblocks the same call
    assert mutual_knn_pairs(df, k=2, max_base_rows=40).count() > 0


@pytest.fixture(scope="module")
def ivf_40(spark):
    from oasisdb_spark.index.ivf import build_ivf

    rows = [(i, [float((i * 7) % 13), float((i * 3) % 11)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    cent, idx = build_ivf(df, nlist=4)
    return df, cent, idx


def test_mutual_knn_ivf_full_probe_equals_brute(spark, ivf_40):
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs, mutual_knn_pairs_ivf

    df, cent, idx = ivf_40
    for space in ("l2", "cos", "hamming"):
        brute = sorted(map(tuple, mutual_knn_pairs(df, k=4, space=space).collect()))
        ivf = sorted(map(tuple, mutual_knn_pairs_ivf(df, cent, idx, k=4, nprobe=4, space=space).collect()))
        assert brute == ivf and brute, space


def test_mutual_knn_ivf_partial_probe_is_precision_biased(spark, ivf_40):
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs_ivf

    df, cent, idx = ivf_40
    full = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs_ivf(df, cent, idx, k=4, nprobe=4).collect()
    }
    part = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs_ivf(df, cent, idx, k=4, nprobe=1).collect()
    }
    # partial probes can only LOSE pairs (each side must still find the
    # other through its probes) — never invent them
    assert part <= full


def test_mutual_knn_ivf_ip_rejected(spark, ivf_40):
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs_ivf

    df, cent, idx = ivf_40
    with pytest.raises(ValueError, match="symmetric"):
        mutual_knn_pairs_ivf(df, cent, idx, k=2, nprobe=4, space="ip")
