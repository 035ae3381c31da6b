#!/usr/bin/env python
"""Concurrency stress harness — parity with the reference's only
async-correctness test (script/compact_test.py:23-58: flood upserts
during compaction while readers hammer the collection, assert zero
failed reads).

One catalog, one collection, four concurrent actors for WALL_SECS:

- writer      : batch upserts (overlapping + fresh ids) + add_to_index,
                occasional deletes — the between-rebuilds write path
- rebuilder   : alternating build_index (version bump + snapshot GC) and
                compact_collection (small-file folding) — the reference's
                "compaction" under load
- readers x N : search_vectors (k rows expected, finite distances,
                ids from the committed universe) + get_document point
                lookups on known-committed ids
- streamer    : availableNow streaming ingest micro-batches into the
                same collection via streaming/ingest.py (round-2
                surface), exercised WHILE rebuilds swap snapshots
- churner     : catalog-level churn — create a fresh collection, load
                it, build its index, search it, delete it — racing the
                long-lived collection's rebuilds through the shared
                catalog.json, rewritten whole by temp file + os.replace
                (the reference's cache-prefix-invalidation path,
                handlers.go:128-149);
                asserts the victim vanishes from list_collections while
                "c" survives every cycle

Mutators (writer / rebuilder / streamer) serialize on one lock — the
documented concurrency model (the REST server holds srv._lock across
mutations; catalog writes read catalog.json, change it and replace it
whole). Readers take no lock: the atomic generation-pointer flip, the
atomic catalog.json replace and index_version pinning must keep every
unsynchronized read well-formed. That read-side freedom is the property
under test.

Exit 0 iff zero failed reads and every invariant held. Runtime ~60 s.
Usage: python scripts/stress_test.py [wall_secs]
"""

from __future__ import annotations

import os
import random
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

DIM = 16
SEED_DOCS = 1000
BATCH = 50
K = 5
N_READERS = 3
WALL_SECS = float(sys.argv[1]) if len(sys.argv) > 1 else 60.0


def _vec(rng: random.Random) -> list[float]:
    return [rng.uniform(-1, 1) for _ in range(DIM)]


def main() -> int:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("oasisdb_stress")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from oasisdb_spark.catalog import Catalog
    from oasisdb_spark.search import add_to_index, build_index, search_vectors

    tmp = tempfile.mkdtemp(prefix="oasis_stress_")
    cat = Catalog(spark, tmp)
    cat.create_collection("c", DIM, index_type="ivf_flat", params={"nlist": "8", "nprobe": "4"})

    rng = random.Random(0)
    seed = spark.createDataFrame(
        [(str(i), _vec(rng), {"src": "seed"}) for i in range(SEED_DOCS)],
        "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>",
    )
    mutate = threading.Lock()  # the server's srv._lock model
    cat.upsert_documents("c", seed)
    build_index(cat, "c")

    # committed-id universe: ids are only ever added (deletes tracked);
    # readers assert result ids ⊆ universe ∖ confirmed-deleted-at-read
    universe: set[str] = {str(i) for i in range(SEED_DOCS)}
    deleted: set[str] = set()
    stop = threading.Event()
    failures: list[str] = []
    counters = {"searches": 0, "lookups": 0, "upserts": 0, "rebuilds": 0,
                "compactions": 0, "deletes": 0, "stream_batches": 0,
                "collection_churns": 0}

    def fail(msg: str) -> None:
        failures.append(msg)
        stop.set()

    def writer() -> None:
        wrng = random.Random(1)
        next_id = SEED_DOCS
        while not stop.is_set():
            ids = [str(wrng.randrange(SEED_DOCS))
                   for _ in range(BATCH // 2)] + [str(next_id + j) for j in range(BATCH // 2)]
            next_id += BATCH // 2
            docs = spark.createDataFrame(
                [(i, _vec(wrng), {"src": "writer"}) for i in ids],
                "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>",
            )
            try:
                # pre-register ids: universe must be a SUPERSET of the
                # committed store at all times (readers check result ids
                # against it), so registration precedes the commit
                universe.update(ids)
                with mutate:
                    cat.upsert_documents("c", docs)
                    add_to_index(cat, "c", docs)
                deleted.difference_update(ids)
                counters["upserts"] += 1
                if wrng.random() < 0.3:
                    victim = str(wrng.randrange(SEED_DOCS))
                    with mutate:
                        try:
                            cat.delete_document("c", victim)
                        except Exception:
                            victim = None  # already deleted — fine
                    if victim is not None:
                        deleted.add(victim)
                        counters["deletes"] += 1
            except Exception as e:  # noqa: BLE001
                fail(f"writer: {e!r:.300}")
                return

    def rebuilder() -> None:
        flip = False
        while not stop.is_set():
            time.sleep(1.0)
            try:
                with mutate:
                    if flip:
                        cat.compact_collection("c")
                        counters["compactions"] += 1
                    else:
                        build_index(cat, "c")
                        counters["rebuilds"] += 1
                flip = not flip
            except Exception as e:  # noqa: BLE001
                fail(f"rebuilder: {e!r:.300}")
                return

    def streamer() -> None:
        from oasisdb_spark.streaming.ingest import stream_upsert

        srng = random.Random(2)
        sdir = os.path.join(tmp, "_stream_src")
        ckpt = os.path.join(tmp, "_stream_ckpt")
        os.makedirs(sdir, exist_ok=True)
        schema = "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>"
        sid = 10_000_000
        while not stop.is_set():
            time.sleep(2.0)
            ids = [str(sid + j) for j in range(20)]
            sid += 20
            spark.createDataFrame(
                [(i, _vec(srng), {"src": "stream"}) for i in ids], schema
            ).write.mode("append").parquet(sdir)
            universe.update(ids)  # superset pre-registration, as in writer
            try:
                stream = spark.readStream.schema(schema).parquet(sdir)
                with mutate:
                    stream_upsert(cat, "c", stream, ckpt, available_now=True)
                counters["stream_batches"] += 1
            except Exception as e:  # noqa: BLE001
                fail(f"streamer: {e!r:.300}")
                return

    def churner() -> None:
        """create→load→index→search→delete a throwaway collection each
        cycle, racing 'c''s writers/rebuilders on the shared catalog."""
        crng = random.Random(3)
        gen = 0
        q = spark.createDataFrame(
            [(0, _vec(crng))], "query_id INT, query_vec ARRAY<FLOAT>"
        )
        while not stop.is_set():
            time.sleep(1.5)
            cname = f"churn_{gen}"
            gen += 1
            try:
                with mutate:
                    cat.create_collection(cname, DIM, index_type="flat")
                docs = spark.createDataFrame(
                    [(f"x{j}", _vec(crng), {"src": "churn"}) for j in range(25)],
                    "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>",
                )
                with mutate:
                    cat.upsert_documents(cname, docs)
                    build_index(cat, cname)
                rows = search_vectors(cat, cname, q, 3).collect()
                if len(rows) != 3:
                    fail(f"churner: got {len(rows)} rows from {cname}, want 3")
                    return
                with mutate:
                    cat.delete_collection(cname)
                names = set(cat.list_collections())
                if cname in names:
                    fail(f"churner: {cname} still listed after delete")
                    return
                if "c" not in names:
                    fail("churner: collection 'c' vanished during churn")
                    return
                counters["collection_churns"] += 1
            except Exception as e:  # noqa: BLE001
                fail(f"churner: {e!r:.300}")
                return

    def reader(tag: int) -> None:
        rrng = random.Random(100 + tag)
        q = spark.createDataFrame(
            [(0, _vec(rrng))], "query_id INT, query_vec ARRAY<FLOAT>"
        )
        while not stop.is_set():
            try:
                # UNSYNCHRONIZED search across upserts/rebuilds/compaction
                rows = search_vectors(cat, "c", q, K).collect()
                if len(rows) != K:
                    fail(f"reader{tag}: got {len(rows)} rows, want {K}")
                    return
                snap_universe = set(universe)  # grows monotonically
                for r in rows:
                    if not (r["distance"] == r["distance"] and r["distance"] >= 0.0):
                        fail(f"reader{tag}: bad distance {r['distance']!r}")
                        return
                    if r["id"] not in snap_universe:
                        fail(f"reader{tag}: unknown id {r['id']!r}")
                        return
                counters["searches"] += 1
                # point lookup on a seed id that was never deleted
                pid = str(rrng.randrange(SEED_DOCS))
                if pid not in deleted:
                    try:
                        doc = cat.get_document("c", pid)
                        if len(doc["vector"]) != DIM:
                            fail(f"reader{tag}: bad vector len {len(doc['vector'])}")
                            return
                        counters["lookups"] += 1
                    except Exception as e:  # noqa: BLE001
                        # racing a concurrent delete of pid is legal —
                        # give the deleter's bookkeeping a beat to land;
                        # anything else is a failed read
                        time.sleep(0.3)
                        if pid not in deleted:
                            fail(f"reader{tag}: lookup {pid} failed: {type(e).__name__}: {str(e)[:400]}")
                            return
            except Exception as e:  # noqa: BLE001
                fail(f"reader{tag}: search failed: {type(e).__name__}: {str(e)[:400]}")
                return

    threads = [
        threading.Thread(target=writer, name="writer"),
        threading.Thread(target=rebuilder, name="rebuilder"),
        threading.Thread(target=streamer, name="streamer"),
        threading.Thread(target=churner, name="churner"),
    ] + [threading.Thread(target=reader, args=(i,), name=f"reader{i}") for i in range(N_READERS)]
    for t in threads:
        t.start()
    deadline = time.time() + WALL_SECS
    while time.time() < deadline and not stop.is_set():
        time.sleep(0.5)
    stop.set()
    for t in threads:
        t.join(timeout=120)

    # post-conditions: catalog consistent, index current, doc count sane
    coll = cat.get_collection("c")
    n = cat.count_documents("c")
    ok = not failures and coll.index_version >= 1 and n >= SEED_DOCS - len(deleted)
    print(
        f"stress: {'PASS' if ok else 'FAIL'} wall={WALL_SECS:.0f}s "
        f"counters={counters} index_version={coll.index_version} docs={n} "
        f"failures={failures[:5]}"
    )
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
