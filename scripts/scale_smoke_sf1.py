#!/usr/bin/env python
"""sf1 scale smoke for the text-heavy families (VERDICT r03 #6).

The three priciest bench entries at sf0.1 — `substring_dup_stats`,
`lm_perplexity`, `jaccard_pairs_prefix` — are gram/shingle-shuffle-bound,
so their scaling behavior is what breaks first at 100 TB. /root/testdata
tops out at sf0.1 (5k docs), so this script synthesizes a 10x corpus
(the 5k sf0.1 documents plus 45k deterministic hash-derived documents
drawn from the same vocabulary and length distribution — NOT replicas:
replicating near-dup clusters 10x would inflate the pair graph ~100x and
measure blowup, not scaling) and times each op at both scales.

Usage: python scripts/scale_smoke_sf1.py [n_sf1_docs]
Prints a markdown table of min-of-2 timings and the sf1/sf0.1 ratio
(corpus is 10x, so near-linear scaling shows as a ratio near 10).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF01_DIR = "/root/testdata/sf0.1"
SF1_DIR = "/tmp/oasis_scale_sf1"
_num_args = [a for a in sys.argv[1:] if a.isdigit()]
N_SF1 = int(_num_args[0]) if _num_args else 50_000
# non-numeric args select sections by name (e.g. `recall_section`);
# with none given, main() runs the full historical sweep
ONLY_SECTIONS = {a for a in sys.argv[1:] if not a.isdigit()}


def build_sf1(spark) -> str:
    """Materialize the 10x corpus once (32 splits, deterministic)."""
    marker = os.path.join(SF1_DIR, "_SUCCESS_N" + str(N_SF1))
    if os.path.exists(marker):
        return SF1_DIR
    shutil.rmtree(SF1_DIR, ignore_errors=True)
    base = spark.read.parquet(f"{SF01_DIR}/documents.parquet")
    vocab = sorted(
        r["w"]
        for r in base.select(
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
        ).where("w != ''").distinct().collect()
    )
    varr = F.array(*[F.lit(w) for w in vocab])
    langs = F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("fr"),
                    F.lit("es"), F.lit("de"), F.lit("zh"))
    n_new = N_SF1 - base.count()
    ids = spark.range(5000, 5000 + n_new, 1, 32).withColumnRenamed("id", "doc_id")
    # token count 8..100 (chars ~44..577 like the fixture); every draw is
    # xxhash64-derived so the corpus is reproducible with no RNG
    ntok = (F.abs(F.xxhash64("doc_id", F.lit("len"))) % 93 + 8).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), ntok),
            lambda j: F.element_at(
                varr,
                (F.abs(F.xxhash64(F.col("doc_id"), j)) % len(vocab) + 1).cast("int"),
            ),
        ),
        " ",
    )
    synth = ids.select(
        "doc_id",
        text.alias("text"),
        F.element_at(langs, (F.abs(F.xxhash64("doc_id", F.lit("lang"))) % 7 + 1).cast("int")).alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 8).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    base.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        synth
    ).repartition(32).write.mode("overwrite").parquet(SF1_DIR)
    open(marker, "w").close()
    return SF1_DIR


def ops(spark, docs):
    from oasisdb_spark.pipeline.curate import scrub_duplicate_lines
    from oasisdb_spark.pipeline.dedup import (
        duplicate_substring_stats,
        jaccard_pairs_prefix,
        minhash_lsh_dedup,
    )
    from oasisdb_spark.pipeline.export import shard_assign
    from oasisdb_spark.pipeline.lm import bigram_lm, lm_score
    from oasisdb_spark.pipeline.text import bpe_token_estimate

    from pyspark.sql import functions as F  # noqa: F811

    par = spark.sparkContext.defaultParallelism
    return {
        "substring_dup_stats[str-grams]": lambda: duplicate_substring_stats(
            docs, min_length=30, hash_grams=False, parallelism=par
        ),
        "substring_dup_stats[hash-grams]": lambda: duplicate_substring_stats(
            docs, min_length=30, hash_grams=True, parallelism=par
        ),
        "substring_dup_stats[wide-grams]": lambda: duplicate_substring_stats(
            docs, min_length=30, hash_grams="wide", parallelism=par
        ),
        "lm_perplexity": lambda: lm_score(docs, bigram_lm(docs, parallelism=par), parallelism=par),
        "jaccard_pairs_prefix": lambda: jaccard_pairs_prefix(
            docs, threshold=0.5, parallelism=par, eager=True
        ),
        # round-4 additions
        "minhash_lsh_pairs": lambda: minhash_lsh_dedup(
            docs.repartition(par), threshold=0.5, eager=True
        ),
        "line_scrub": lambda: scrub_duplicate_lines(docs.repartition(par)),
        "token_estimate": lambda: docs.repartition(par).select(
            "doc_id", bpe_token_estimate("text").alias("est")
        ),
        "training_shards": lambda: shard_assign(docs.select("doc_id"), n_shards=64),
    }


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


SF1_EMB_DIR = "/tmp/oasis_scale_sf1_emb"


def build_sf1_embeddings(spark, factor: int = 10) -> str:
    """10x embeddings: replicas of the sf0.1 vectors with a small
    deterministic per-(replica, element) xxhash perturbation, so
    distances aren't degenerate ties but the distribution is preserved."""
    marker = os.path.join(SF1_EMB_DIR, "_SUCCESS_F" + str(factor))
    if os.path.exists(marker):
        return SF1_EMB_DIR
    shutil.rmtree(SF1_EMB_DIR, ignore_errors=True)
    base = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    n = base.count()
    reps = spark.range(0, factor).withColumnRenamed("id", "rep")
    out = (
        base.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, j: (
                    x
                    + F.when(F.col("rep") == 0, F.lit(0.0)).otherwise(
                        ((F.abs(F.xxhash64(F.col("vec_id"), F.col("rep"), j)) % 1000)
                         .cast("double") / 10000.0 - 0.05).cast("float")
                    )
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    out.repartition(32).write.mode("overwrite").parquet(SF1_EMB_DIR)
    open(marker, "w").close()
    return SF1_EMB_DIR


def ann_section(spark) -> None:
    """ANN tiers at 10x the vector count. nlist tracks sqrt(N) and
    nprobe stays a constant fraction of nlist — the knob posture a real
    deployment scales with."""
    import math

    from oasisdb_spark.index.flat import knn_flat
    from oasisdb_spark.index.ivf import build_ivf, knn_ivf

    results: dict[str, dict[str, float]] = {}
    for tag, path in (
        ("sf0.1", f"{SF01_DIR}/embeddings.parquet"),
        ("sf1", build_sf1_embeddings(spark)),
    ):
        emb = (
            spark.read.parquet(path)
            .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
            .repartition(32)
            .persist()
        )
        n = emb.count()
        q = emb.filter(F.col("id") < 100).select(
            F.col("id").alias("query_id"), F.col("vector").alias("query_vec")
        )
        def timed(name, thunk):
            vals = []
            for _ in range(2):
                t0 = time.perf_counter()
                thunk()
                vals.append(time.perf_counter() - t0)
            results.setdefault(name, {})[tag] = round(min(vals), 2)
            print(f"  {tag:6s} {name:28s} {min(vals):7.2f} s  (n={n})", flush=True)

        timed("knn_flat_l2[100q,k=10]", lambda: force(knn_flat(q, emb, k=10)))
        nlist = max(16, int(math.sqrt(n)))
        t0 = time.perf_counter()
        cent, idx = build_ivf(emb, nlist=nlist)
        idx = idx.persist(); idx.count()
        results.setdefault("ivf_build", {})[tag] = round(time.perf_counter() - t0, 2)
        print(f"  {tag:6s} {'ivf_build':28s} {results['ivf_build'][tag]:7.2f} s  (nlist={nlist})", flush=True)
        timed(
            "knn_ivf[nprobe=nlist/8]",
            lambda: force(knn_ivf(q, cent, idx, k=10, nprobe=max(2, nlist // 8))),
        )
        idx.unpersist(); emb.unpersist()

    print("\n| ann op | sf0.1 (s) | sf1 (s) | ratio (10x vectors) |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


def curation_section(spark) -> None:
    """Round-6 families at 10x: the integer k-means FIT (the only
    multi-pass operator in the repo — per pass one scan emitting
    partitions*k partial rows), its two curation consumers (one
    cluster-keyed window shuffle each), and the bottom-k quantile
    sketch (TakeOrdered scan; result size constant in n)."""
    from oasisdb_spark.functions.sketch import quantile_sketch
    from oasisdb_spark.pipeline.cluster_curate import (
        cluster_balanced_sample,
        kmeans_fit_quantized,
        prototype_prune,
    )

    # 10x events for the sketch: replicas with shifted ids; value gets a
    # deterministic xxhash jitter so order statistics aren't pure ties.
    ev10 = "/tmp/oasis_scale_sf1_events"
    if not os.path.exists(os.path.join(ev10, "_SUCCESS")):
        base = spark.read.parquet(f"{SF01_DIR}/events.parquet").select(
            "event_id", "value"
        )
        n = base.count()
        reps = spark.range(0, 10).withColumnRenamed("id", "rep")
        (
            base.crossJoin(reps)
            .select(
                (F.col("event_id") + F.col("rep") * n).alias("event_id"),
                (
                    F.col("value")
                    + (F.abs(F.xxhash64("event_id", "rep")) % 1000).cast("double")
                    / 1e6
                ).alias("value"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(ev10)
        )

    results: dict[str, dict[str, float]] = {}

    def timed(tag, name, thunk, warm=True):
        if warm:
            thunk()
        vals = []
        for _ in range(2):
            t0 = time.perf_counter()
            thunk()
            vals.append(time.perf_counter() - t0)
        results.setdefault(name, {})[tag] = round(min(vals), 2)
        print(f"  {tag:6s} {name:28s} {min(vals):7.2f} s", flush=True)

    for tag, emb_path, ev_path in (
        ("sf0.1", f"{SF01_DIR}/embeddings.parquet", f"{SF01_DIR}/events.parquet"),
        ("sf1", build_sf1_embeddings(spark), ev10),
    ):
        emb = spark.read.parquet(emb_path).repartition(32).persist()
        emb.count()
        model_box = {}

        def fit():
            model_box["m"] = kmeans_fit_quantized(emb, k=64, iters=4)

        timed(tag, "kmeans_fit[k=64,iters=4]", fit, warm=False)
        m = model_box["m"]
        timed(tag, "proto_prune[1/4]", lambda: force(prototype_prune(emb, m)))
        timed(
            tag,
            "cluster_balanced[cap=64]",
            lambda: force(cluster_balanced_sample(emb, m, cap=64)),
        )
        ev = spark.read.parquet(ev_path)
        timed(
            tag,
            "quantile_sketch[k=512]",
            lambda: force(quantile_sketch(ev, "value", "event_id", k=512)),
        )
        emb.unpersist()

    print("\n| round-6 op | sf0.1 (s) | sf1 (s) | ratio (10x rows) |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


def text_round6_section(spark) -> None:
    """Winnowing + BPE at 10x docs (the synthetic 50k corpus from
    build_sf1). Expectations: winnow_fingerprints is zero-shuffle
    scan-stage work (ratio tracks the scan, sublinear via overhead
    amortization); winnow pairs are a df-capped equi-join; BPE training
    is VOCABULARY-sized per step, and vocabulary grows sublinearly in
    corpus size, so learn time should be nearly flat."""
    from oasisdb_spark.pipeline.bpe import bpe_learn_merges, bpe_segment_expr
    from oasisdb_spark.pipeline.winnow import winnow_fingerprints, winnow_overlap_pairs

    results: dict[str, dict[str, float]] = {}

    def timed(tag, name, thunk, warm=True):
        if warm:
            thunk()
        vals = []
        for _ in range(2):
            t0 = time.perf_counter()
            thunk()
            vals.append(time.perf_counter() - t0)
        results.setdefault(name, {})[tag] = round(min(vals), 2)
        print(f"  {tag:6s} {name:28s} {min(vals):7.2f} s", flush=True)

    sf1 = build_sf1(spark)
    for tag, path in (("sf0.1", f"{SF01_DIR}/documents.parquet"), ("sf1", sf1)):
        docs = spark.read.parquet(path).persist()
        docs.count()
        timed(
            tag,
            "winnow_fingerprints",
            lambda: force(winnow_fingerprints(docs, k=8, w=4)),
        )
        fp = winnow_fingerprints(docs, k=8, w=4).persist()
        fp.count()
        timed(
            tag,
            "winnow_overlap_pairs",
            lambda: force(winnow_overlap_pairs(fp, docs, max_df=10, min_shared=2)),
        )
        merges_box = {}

        def learn():
            merges_box["m"] = [
                (r["left_sym"], r["right_sym"])
                for r in bpe_learn_merges(docs, n_merges=8).collect()
            ]

        timed(tag, "bpe_learn_merges[8]", learn, warm=False)
        timed(
            tag,
            "bpe_segment_counts",
            lambda: force(
                docs.select(
                    "doc_id", bpe_segment_expr("text", merges_box["m"]).alias("n")
                )
            ),
        )
        fp.unpersist()
        docs.unpersist()

    # PageRank at 10x facts (trade graph from the TPC-H replica: 10x
    # customers and edges, same per-key fan-out)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for tag, d in (("sf0.1", SF01_DIR), ("sf1", build_sf1_tpch(spark))):
        timed(
            tag, "trade_pagerank[5]", lambda: force(qs["trade_pagerank"](spark, d)),
            warm=False,
        )

    print("\n| round-6 text op | sf0.1 (s) | sf1 = 10x (s) | ratio |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


def main() -> None:
    from oasisdb_spark.session import get_spark

    unknown = {s for s in ONLY_SECTIONS if not callable(globals().get(s))}
    if unknown:
        raise SystemExit(f"unknown section(s): {', '.join(sorted(unknown))}")

    spark = get_spark("oasisdb_scale_smoke_sf1")
    spark.sparkContext.setLogLevel("ERROR")

    if ONLY_SECTIONS:
        for name in sorted(ONLY_SECTIONS):
            globals()[name](spark)
        spark.stop()
        return

    sf1 = build_sf1(spark)
    scales = {
        "sf0.1": spark.read.parquet(f"{SF01_DIR}/documents.parquet"),
        "sf1": spark.read.parquet(sf1),
    }
    for tag, docs in scales.items():
        print(f"{tag}: {docs.count()} docs, {docs.agg(F.sum('n_chars')).first()[0]} chars")

    results: dict[str, dict[str, float]] = {}
    for tag, docs in scales.items():
        for name, thunk in ops(spark, docs).items():
            force(thunk())  # warm
            t = min(
                (lambda: (lambda t0: (force(thunk()), time.perf_counter() - t0)[1])(time.perf_counter()))()
                for _ in range(2)
            )
            results.setdefault(name, {})[tag] = round(t, 2)
            print(f"  {tag:6s} {name:34s} {t:7.2f} s", flush=True)

    print("\n| op | sf0.1 (s) | sf1 (s) | ratio (10x data) |")
    print("|---|---|---|---|")
    for name, r in results.items():
        ratio = r["sf1"] / r["sf0.1"] if r["sf0.1"] else float("inf")
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {ratio:.1f}x |")

    ann_section(spark)
    tpch_section(spark)
    curation_section(spark)
    text_round6_section(spark)
    batch4_section(spark)
    mutual_ivf_section(spark)
    recall_section(spark)
    spark.stop()


SF1_TPCH_DIR = "/tmp/oasis_scale_sf1_tpch"


def build_sf1_tpch(spark, factor: int = 10) -> str:
    """10x TPC-H fixture (VERDICT r04 next-round #7): replicate the
    fact AND dimension tables with consistent key shifts — customer,
    supplier, part, orders, lineitem all grow 10x and every foreign key
    moves by the same per-replica offset, so join fan-outs and group
    cardinalities per key stay CONSTANT (scaling up data, not skew),
    exactly how dbgen scales. region/nation stay fixed (25 nations at
    every TPC-H SF)."""
    marker = os.path.join(SF1_TPCH_DIR, "_SUCCESS_F" + str(factor))
    if os.path.exists(marker):
        return SF1_TPCH_DIR
    shutil.rmtree(SF1_TPCH_DIR, ignore_errors=True)
    os.makedirs(SF1_TPCH_DIR, exist_ok=True)

    def load(t):
        return spark.read.parquet(f"{SF01_DIR}/{t}.parquet")

    # per-key offsets = max_key + 1, computed from the data
    offs = {}
    for t, k in [("orders", "o_orderkey"), ("customer", "c_custkey"),
                 ("supplier", "s_suppkey"), ("part", "p_partkey")]:
        offs[k] = load(t).agg(F.max(k)).first()[0] + 1

    shift_map = {
        "o_orderkey": offs["o_orderkey"], "l_orderkey": offs["o_orderkey"],
        "o_custkey": offs["c_custkey"], "c_custkey": offs["c_custkey"],
        "s_suppkey": offs["s_suppkey"], "l_suppkey": offs["s_suppkey"],
        "p_partkey": offs["p_partkey"], "l_partkey": offs["p_partkey"],
    }
    reps = spark.range(0, factor).withColumnRenamed("id", "rep")
    for t in ["region", "nation"]:
        load(t).write.mode("overwrite").parquet(f"{SF1_TPCH_DIR}/{t}.parquet")
    for t in ["customer", "supplier", "part", "orders", "lineitem"]:
        df = load(t).crossJoin(reps)
        out = df.select(
            *[
                (F.col(c) + F.col("rep") * shift_map[c]).alias(c)
                if c in shift_map
                else F.col(c)
                for c in load(t).columns
            ]
        )
        out.repartition(32).write.mode("overwrite").parquet(
            f"{SF1_TPCH_DIR}/{t}.parquet"
        )
    open(marker, "w").close()
    return SF1_TPCH_DIR


def tpch_section(spark) -> None:
    """The 5 priciest relational shapes at 10x facts+dims — the one
    bench family with no 10x measurement through round 4."""
    import __spark_entry__ as entrymod

    sf1 = build_sf1_tpch(spark)
    qs = entrymod.queries()
    names = [
        "q9_product_profit", "q21_last_to_ship", "q18_large_orders",
        "q7_nation_trade", "q8_market_share",
    ]
    results: dict[str, dict[str, float]] = {}
    for tag, d in (("sf0.1", SF01_DIR), ("sf1", sf1)):
        for name in names:
            force(qs[name](spark, d))  # warm
            vals = []
            for _ in range(2):
                t0 = time.perf_counter()
                force(qs[name](spark, d))
                vals.append(time.perf_counter() - t0)
            results.setdefault(name, {})[tag] = round(min(vals), 2)
            print(f"  {tag:6s} {name:28s} {min(vals):7.2f} s", flush=True)

    print("\n| tpch op | sf0.1 (s) | sf1 (s) | ratio (10x rows) |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


SF1_FULL_DIR = "/tmp/oasis_scale_sf1_full"


def build_sf1_full(spark) -> str:
    """Combined 10x fixture for the registry-entry smoke: full-column
    10x events (replica users shifted so series COUNT grows 10x with
    constant per-series length — scaling data, not skew; values get a
    deterministic sub-cent xxhash jitter so order stats aren't pure
    ties), plus symlinks to the existing 10x TPC-H / documents /
    embeddings replicas, so any queries() entry runs unmodified at 10x
    via its sf_dir argument."""
    marker = os.path.join(SF1_FULL_DIR, "_SUCCESS")
    if os.path.exists(marker):
        return SF1_FULL_DIR
    shutil.rmtree(SF1_FULL_DIR, ignore_errors=True)
    os.makedirs(SF1_FULL_DIR, exist_ok=True)

    from oasisdb_spark.sources.tables import load_table

    base = load_table(spark, SF01_DIR, "events")
    n_users = base.agg(F.max("user_id")).first()[0] + 1
    n_ev = base.agg(F.max("event_id")).first()[0] + 1
    reps = spark.range(0, 10).withColumnRenamed("id", "rep")
    (
        base.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
            F.col("ts"),
            (F.col("user_id") + F.col("rep") * n_users).alias("user_id"),
            F.col("event_type"),
            (
                F.col("value")
                + (F.abs(F.xxhash64("event_id", "rep")) % 1000).cast("double") / 1e6
            ).alias("value"),
            F.col("props"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{SF1_FULL_DIR}/events.parquet")
    )
    tpch = build_sf1_tpch(spark)
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        os.symlink(f"{tpch}/{t}.parquet", f"{SF1_FULL_DIR}/{t}.parquet")
    os.symlink(build_sf1(spark), f"{SF1_FULL_DIR}/documents.parquet")
    os.symlink(build_sf1_embeddings(spark), f"{SF1_FULL_DIR}/embeddings.parquet")
    open(marker, "w").close()
    return SF1_FULL_DIR


def batch4_section(spark) -> None:
    """Round-6 batch-4 registry entries at 10x rows. Expected shapes:
    the window-family ops (cusum, rolling z, attribution, transitions,
    paths) pay one series/user sort each — near-linear; OHLC and its
    daily cascade are single partial aggs — near-linear in ticks, and
    the CASCADE's advantage shows as near-flat cost on 10x ticks (bar
    count is time-bounded); chi2/trend/RFM/overlap collapse to
    cell/metric/sketch frames — near-flat; the skyline scans once and
    moves only candidates — near-flat beyond the scan."""
    import __spark_entry__ as entrymod

    sf1 = build_sf1_full(spark)
    qs = entrymod.queries()
    names = [
        "events_ohlc", "events_ohlc_daily", "events_cusum",
        "events_rolling_anomaly", "events_attribution",
        "event_type_transitions", "events_session_paths",
        "events_value_trend", "events_chi2_gate", "customer_rfm",
        "orders_flag_overlap", "lineitem_skyline",
        "docs_pmi_collocations", "mutual_knn_pairs",
        "copurchase_pairs", "copurchase_triangles", "events_outliers",
        "events_credit_split", "langid_kappa", "events_gapfill_interp",
        "copurchase_communities", "orders_benford", "copurchase_rules",
        "events_windowed_funnel",
    ]
    results: dict[str, dict[str, float]] = {}
    for tag, d in (("sf0.1", SF01_DIR), ("sf1", sf1)):
        for name in names:
            force(qs[name](spark, d))  # warm
            vals = []
            for _ in range(2):
                t0 = time.perf_counter()
                force(qs[name](spark, d))
                vals.append(time.perf_counter() - t0)
            results.setdefault(name, {})[tag] = round(min(vals), 2)
            print(f"  {tag:6s} {name:28s} {min(vals):7.2f} s", flush=True)

    print("\n| batch-4 entry | sf0.1 (s) | sf1 = 10x (s) | ratio |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


def mutual_ivf_section(spark) -> None:
    """mutual_knn_pairs_ivf at 10x (VERDICT r06 #3): the sub-quadratic
    composition measured in its production shape — IVF built with
    nlist = sqrt(N) at EACH scale (the standard coarse-quantizer
    sizing), nprobe fixed at 4, so per-query candidates grow ~sqrt(N)
    and total work ~N^1.5 (expected time ratio ~31.6x/10 = 3.2x per
    data 10x once past fixed costs) instead of the GEMM scan's N^2.
    The GEMM default is measured next to it for the honest comparison:
    at fixture sizes BLAS constants can keep GEMM ahead on wall-clock;
    the IVF path's claim is the ASYMPTOTE plus never collecting the
    base to the driver (the GEMM kernel broadcasts the whole query
    copy — a non-starter at 100M+ vectors)."""
    import math

    from oasisdb_spark.index.ivf import build_ivf
    from oasisdb_spark.pipeline.mining import mutual_knn_pairs, mutual_knn_pairs_ivf

    sf1 = build_sf1_full(spark)
    results: dict[str, dict[str, float]] = {}
    for tag, d in (("sf0.1", SF01_DIR), ("sf1", sf1)):
        emb = spark.read.parquet(f"{d}/embeddings.parquet").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        )
        n = emb.count()
        nlist = max(16, int(math.isqrt(n)))
        cent, idx = build_ivf(emb, nlist=nlist)
        idx = idx.persist()
        idx.count()
        print(f"  {tag}: N={n}, nlist={nlist}")
        thunks = {
            "mutual_knn_pairs_ivf (nprobe=4)": lambda: mutual_knn_pairs_ivf(
                emb, cent, idx, k=5, nprobe=4
            ),
            "mutual_knn_pairs (GEMM scan)": lambda: mutual_knn_pairs(emb, k=5),
        }
        for name, thunk in thunks.items():
            force(thunk())  # warm
            vals = []
            for _ in range(2):
                t0 = time.perf_counter()
                force(thunk())
                vals.append(time.perf_counter() - t0)
            results.setdefault(name, {})[tag] = round(min(vals), 2)
            print(f"  {tag:6s} {name:34s} {min(vals):7.2f} s", flush=True)
        idx.unpersist()

    print("\n| mutual-kNN plan | sf0.1 (s) | sf1 = 10x (s) | ratio |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


def recall_section(spark) -> None:
    """Round-11 recall-certification operators at 10x the vector count
    (operators/recall.py). These are EVALUATION ops whose dominant term
    is the brute-force ground-truth pass — nq * N pair rows with nq
    FIXED (the production audit posture) — so the honest expectation is
    ~linear in N, with the builds (integer Lloyd's, PQ codebooks) also
    one-scan-per-iter linear. Run at the driver entries' exact knobs
    (k=8 coarse fit, nprobe 1/2/4/8, 2/4/8 LSH tables, m=4/ksub=8 PQ,
    nq=10, k=10) so the table certifies the scaling of the shapes the
    gate actually hashes."""
    from oasisdb_spark.operators.recall import (
        binq_shortlist_recall_quantized,
        fit_pq_codebooks,
        ivf_probe_recall_quantized,
        lsh_bucket_recall_quantized,
        pq_adc_recall_quantized,
    )
    from oasisdb_spark.pipeline.cluster_curate import kmeans_fit_quantized

    results: dict[str, dict[str, float]] = {}
    for tag, path in (
        ("sf0.1", f"{SF01_DIR}/embeddings.parquet"),
        ("sf1", build_sf1_embeddings(spark)),
    ):
        emb = spark.read.parquet(path).persist()
        n = emb.count()
        print(f"  {tag}: N={n}", flush=True)

        t0 = time.perf_counter()
        km = kmeans_fit_quantized(emb, k=8, iters=4)
        results.setdefault("kmeans_fit_quantized[k=8,iters=4]", {})[tag] = round(
            time.perf_counter() - t0, 2
        )
        t0 = time.perf_counter()
        pqm = fit_pq_codebooks(emb, m=4, ksub=8, iters=2)
        results.setdefault("fit_pq_codebooks[m=4,ksub=8]", {})[tag] = round(
            time.perf_counter() - t0, 2
        )

        thunks = {
            "ivf_recall_curve[nprobe=1..8]": lambda: ivf_probe_recall_quantized(emb, km),
            "binq_recall": lambda: binq_shortlist_recall_quantized(emb),
            "lsh_recall_curve[tables=2/4/8]": lambda: lsh_bucket_recall_quantized(emb),
            "pq_adc_recall": lambda: pq_adc_recall_quantized(emb, models=pqm),
        }
        for name, thunk in thunks.items():
            force(thunk())  # warm
            vals = []
            for _ in range(2):
                t0 = time.perf_counter()
                force(thunk())
                vals.append(time.perf_counter() - t0)
            results.setdefault(name, {})[tag] = round(min(vals), 2)
            print(f"  {tag:6s} {name:34s} {min(vals):7.2f} s", flush=True)
        emb.unpersist()

    print("\n| recall-cert op | sf0.1 (s) | sf1 = 10x (s) | ratio |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.1']:.2f} | {r['sf1']:.2f} | {r['sf1']/r['sf0.1']:.1f}x |")


if __name__ == "__main__":
    main()
