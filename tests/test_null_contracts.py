"""Round-9 NULL/NaN contracts, pinned per kernel (NULLSWEEP.md).

The fixture sweeps verify these END-TO-END each round; these tests pin
the same contracts at the LIBRARY boundary so a kernel refactor cannot
silently drop one without a named failure. One test per contract class:

- indexable rows: NULL ids/vectors never enter vector search,
- corpus membership: NULL-id/NULL-text docs are not dedup members,
- doc identity: per-doc scorers require a non-NULL id,
- events time: un-timestamped ticks have no sequence position,
- join semantics: as-of equi-keys never match on NULL,
- NaN: quantization maps NaN to NULL, ranges/gates never trust either
  engine's NaN comparisons.
"""

import math

import pytest
from pyspark.sql import functions as F


def test_mutual_knn_excludes_null_ids_and_vectors(spark):
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs

    rows = [
        (1, [0.0, 0.0]), (2, [0.1, 0.0]),          # mutual pair
        (None, [0.05, 0.0]),                        # NULL id: no endpoint
        (3, None),                                  # NULL vector: no neighbors
    ]
    df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    out = mutual_knn_pairs(df, k=1).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}


def test_embedding_neardup_excludes_null_rows(spark):
    from oasisdb_spark.pipeline.dedup import embedding_neardup_pairs

    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.0]),
        (None, [1.0, 0.0]),                        # would pair with both
        (3, None),                                  # no similarity
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = embedding_neardup_pairs(df, threshold=0.9).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(1, 2)}


def test_maxsim_drops_null_token_elements(spark):
    """A non-NULL vectors list CONTAINING NULL tokens must not poison
    the Arrow packer; all-NULL lists degrade to the empty score-0 path."""
    from oasisdb_spark.pipeline.late_interaction import maxsim_topk

    base = spark.createDataFrame(
        [
            (1, [[1.0, 0.0], [0.0, 1.0]]),
            (2, [[1.0, 0.0], None]),               # one NULL token survives
            (3, [None, None]),                     # all-NULL: scores 0
        ],
        "id LONG, vectors ARRAY<ARRAY<DOUBLE>>",
    )
    queries = spark.createDataFrame(
        [(0, [[1.0, 0.0]])], "query_id LONG, query_vecs ARRAY<ARRAY<DOUBLE>>"
    )
    out = {r["id"]: r["distance"] for r in maxsim_topk(queries, base, k=3).collect()}
    assert out[1] == out[2] == -1.0                # NULL token dropped, not scored
    assert 3 not in out                            # all-NULL degrades to tokenless (unranked)


def test_shingle_minhash_corpus_membership(spark):
    """NULL-text docs previously hashed as "" and all paired together."""
    from oasisdb_spark.pipeline.dedup import shingle_minhash_frame

    rows = [(1, "a b c d"), (2, None), (3, None), (None, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    assert [r["doc_id"] for r in shingle_minhash_frame(df).collect()] == [1]


def test_bm25_stats_count_members_only(spark):
    from oasisdb_spark.index.text import build_text_index

    rows = [(1, "spark joins tables"), (2, None), (None, "spark spark")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    stats = build_text_index(df)["stats"].collect()[0]
    assert stats["n_docs"] == 1 and stats["avgdl"] == 3.0


def test_lm_score_requires_doc_identity(spark):
    """groupBy(doc_id) pooled every NULL-id doc into one phantom row."""
    from oasisdb_spark.pipeline.lm import bigram_lm, lm_score

    rows = [(1, "a b a b"), (None, "a b"), (None, "b a")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = lm_score(df, bigram_lm(df)).collect()
    assert [r["doc_id"] for r in out] == [1]
    # model training still saw the NULL-id docs' bigrams
    model_bgs = {r["bg"] for r in bigram_lm(df).collect()}
    assert "b a" in model_bgs


def test_asof_join_null_keys_never_match(spark):
    from oasisdb_spark.operators import asof_join

    left = spark.createDataFrame(
        [(None, 10, "l1"), (1, 10, "l2")], "user_id LONG, ts LONG, tag STRING"
    )
    right = spark.createDataFrame(
        [(None, 5, "r1"), (1, 5, "r2")], "user_id LONG, ts LONG, payload STRING"
    )
    inner = asof_join(left, right, on="user_id", ts_col="ts", how="inner").collect()
    assert [(r["tag"], r["r_payload"]) for r in inner] == [("l2", "r2")]
    outer = asof_join(left, right, on="user_id", ts_col="ts", how="left").collect()
    assert {r["tag"]: r["r_payload"] for r in outer} == {"l1": None, "l2": "r2"}


def test_session_paths_null_path_for_unlabeled_sessions(spark):
    """A session whose every step label is NULL emits a NULL path (SQL
    string_agg), never ''."""
    from oasisdb_spark.operators.funnel import session_paths

    rows = [
        (1, 1_000_000, 10, None), (1, 2_000_000, 11, None),
        (2, 1_000_000, 20, "view"), (2, 2_000_000, 21, None),
    ]
    df = spark.createDataFrame(rows, "u LONG, ts LONG, id LONG, t STRING")
    out = {r["path"]: r["n_sessions"] for r in
           session_paths(df, "u", "ts", "id", "t", gap=10_000_000).collect()}
    assert out == {None: 1, "view": 1}


def test_dedup_stream_null_ids_are_not_duplicates(spark, tmp_path):
    """Spark's dropDuplicates treats NULL keys as EQUAL — the stream
    kernel must exclude them instead of collapsing all NULL-id rows."""
    import time

    from oasisdb_spark.streaming.events import dedup_stream

    src = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (None, "2024-01-01 00:00:01"),
         (None, "2024-01-01 00:00:02"), (1, "2024-01-01 00:00:03"),
         (2, None)],
        "event_id LONG, ts STRING",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"))
    d = str(tmp_path / "stream")
    src.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("event_id LONG, ts TIMESTAMP").parquet(d)
    name = f"dedup_null_{int(time.time()*1000)}"
    q = (
        dedup_stream(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = [r["event_id"] for r in spark.table(name).collect()]
    # NULL ids and NULL ts excluded; id 1's duplicate dropped
    assert got == [1]


def test_cents_quantization_maps_nan_to_null(spark):
    """try_cast convention: NaN quantizes to NULL on both engines —
    percentile/sum skip it, rows are never dropped."""
    df = spark.createDataFrame(
        [(1.25,), (float("nan"),), (2.75,)], "price DOUBLE"
    )
    out = df.select(
        F.round(F.col("price") * 100).try_cast("long").alias("cents")
    ).collect()
    assert [r["cents"] for r in out] == [125, None, 275]


def test_ohlc_normalizes_nan_prices(spark):
    """Spark's max ranks NaN greatest — one NaN tick would pin
    high = NaN forever; the kernel maps it to NULL (skipped) while the
    tick still counts in n_obs."""
    from oasisdb_spark.operators.timeseries import ohlc_bars

    rows = [
        (1, "2024-01-01 00:10:00", "t", 5.0),
        (2, "2024-01-01 00:20:00", "t", float("nan")),
        (3, "2024-01-01 00:30:00", "t", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id LONG, ts STRING, event_type STRING, value DOUBLE")
    df = df.select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
    out = ohlc_bars(df, ts_col="ts", value_col="value",
                    series_cols=["event_type"], bucket_width="hour",
                    tie_cols=["event_id"]).collect()[0]
    assert out["high"] == 7.0 and out["low"] == 5.0
    assert out["open"] == 5.0 and out["close"] == 7.0
    assert out["n_obs"] == 3


def test_psi_drift_excludes_nan_from_range_and_counts(spark):
    """One NaN in the baseline would make max = NaN and poison every
    bucket width."""
    from oasisdb_spark.operators.quality import psi_drift

    base = spark.createDataFrame(
        [(float(v),) for v in range(10)] + [(float("nan"),)], "v DOUBLE"
    )
    cur = spark.createDataFrame([(float(v),) for v in range(10)], "v DOUBLE")
    out = psi_drift(base, cur, "v", n_buckets=5).collect()
    assert sum(r["base_cnt"] for r in out) == 10  # NaN not counted
    assert all(r["base_cnt"] == r["cur_cnt"] for r in out)


def test_quality_gate_flags_nan_as_violation(spark):
    """DuckDB's columnar NaN comparisons disagree with its own constant
    folding; Spark's NaN > 0 is TRUE — gates must flag NaN explicitly."""
    from oasisdb_spark.operators.quality import check_constraints

    df = spark.createDataFrame(
        [(25.0,), (float("nan"),), (99.0,)], "l_quantity DOUBLE"
    )
    out = check_constraints(
        df, {"qty_range": ~F.isnan("l_quantity") & F.col("l_quantity").between(1, 50)}
    ).collect()[0]
    assert out["n_violations"] == 2  # NaN AND the out-of-range 99


def test_zorder_key_survives_nan(spark):
    """A single NaN previously made the z-range NaN (Spark max) and the
    rank cast an ANSI overflow; NaN rows now rank 0 like NULLs."""
    from oasisdb_spark.sources.layout import zorder_key

    df = spark.createDataFrame(
        [(1.0, 1.0), (float("nan"), 2.0), (3.0, 3.0)], "a DOUBLE, b DOUBLE"
    )
    keys = df.select(zorder_key(df, ["a", "b"], bits=4).alias("z")).collect()
    assert all(r["z"] is not None for r in keys)


def test_vector_indexable_excludes_element_nulls(spark):
    """ADVICE r09: a vector with a NULL *component* must be
    non-indexable on the Spark side (Spark's isnan(NULL) is false, so
    without the explicit isNull clause it slipped through to the numpy
    packers, where None becomes NaN mid-ranking). The SQL twin's
    'x IS NULL OR isnan(x)' is pinned by the fixture sweep and
    tests/test_oracle_types.py."""
    from oasisdb_spark.functions.distance import vector_indexable

    rows = [
        (1, [1.0, 2.0]),            # indexable
        (2, None),                  # NULL vector
        (3, [1.0, None]),           # element NULL — the r09 hole
        (4, [float("nan"), 2.0]),   # element NaN
        (5, []),                    # empty is indexable (dim guard is
                                    # the ingest layer's job)
    ]
    df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    keep = [r["id"] for r in
            df.where(vector_indexable("vector")).select("id").collect()]
    assert sorted(keep) == [1, 5]


def test_knn_flat_never_ranks_element_null_vectors(spark):
    """End-to-end: an element-NULL base vector must not appear in any
    kNN result (previously it reached the GEMM packers as NaN and
    poisoned distances engine-dependently)."""
    from oasisdb_spark.index.flat import knn_flat

    base = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, None]), (12, [3.0, 4.0])],
        "id LONG, vector ARRAY<DOUBLE>",
    ).where(
        __import__(
            "oasisdb_spark.functions.distance", fromlist=["vector_indexable"]
        ).vector_indexable("vector")
    )
    queries = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id LONG, query_vec ARRAY<DOUBLE>"
    )
    got = {r["id"] for r in knn_flat(queries, base, k=3).collect()}
    assert got == {10, 12}
