"""The three workloads: serve_zipf, batch_knn and ingest_churn.

Each workload has ``setup`` (load, build, warm up), ``measure(seconds)``
(the timed loop; may be called twice, untraced then traced) and
``summary(ops)`` (end-to-end metrics from one measure window). Every
answer is checked as it arrives; a wrong answer counts as a failed op.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
from dataclasses import dataclass

import numpy as np

import gen

K = 10


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    n: int = 1  # documents written, or queries searched
    seq: int = -1  # position in the request stream

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100 * len(v)) - 1)]


def median(values) -> float:
    v = sorted(values)
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def check_hits(vecs: np.ndarray, q: np.ndarray, ids, dists, k: int | None, alive=None) -> bool:
    """ids exist, distances are the true squared L2 to those documents
    and non-decreasing; exactly k rows when k is given."""
    if k is not None and len(ids) != k:
        return False
    if not ids or any(b < a for a, b in zip(dists, dists[1:])):
        return False
    for i, d in zip(ids, dists):
        if alive is not None:
            if i not in alive:
                return False
            v = alive[i]
        else:
            if not (len(i) == 8 and i[0] == "d" and i[1:].isdigit() and int(i[1:]) < len(vecs)):
                return False
            v = vecs[int(i[1:])]
        if alive is None and not math.isclose(d, float(gen.sq_dist(v[None, :], q[None, :])[0, 0]), rel_tol=1e-4, abs_tol=1e-3):
            return False
    return True


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.smoke = ctx.smoke

    def close(self):
        pass


# --------------------------------------------------------------------------
class ServeZipf(Workload):
    """Online point traffic over HTTP: a closed loop of 2 HttpOasisClient
    threads against an in-process OasisServer (default cache capacity 10)
    serving one built hnsw collection. Requests: Zipf(1.1) over a pool of
    query vectors; 80% search_vectors, 10% filtered search_documents,
    10% get_document."""

    name = "serve_zipf"
    CLIENTS = 2
    # end-to-end figures cover the first MEASURED requests of the stream,
    # the same requests in every run (6 misses, 2 hits, a filtered search
    # and a get); the window runs until they are done, however slow
    MEASURED = 10

    def setup(self):
        from oasisdb_spark.client import OasisClient
        from oasisdb_spark.http_client import HttpOasisClient
        from oasisdb_spark.server import OasisServer

        self.n = 2_000 if self.smoke else 10_000
        pool = 100 if self.smoke else 1_000
        self.measured = 3 if self.smoke else self.MEASURED
        t = time.perf_counter()
        self.client = OasisClient(self.spark, self.ctx.warehouse)
        self.client.create_collection("serve", gen.DIM)
        self.client.catalog.upsert_documents("serve", gen.corpus_frame(self.spark, self.seed, 0, self.n))
        t1 = time.perf_counter()
        self.client.build_index("serve")
        self.ctx.log(f"load {t1 - t:.2f} s, build {time.perf_counter() - t1:.2f} s")
        self.vecs = gen.corpus_vectors(self.seed, 0, self.n)
        self.server = OasisServer(self.client).start()
        self.http = HttpOasisClient(f"http://127.0.0.1:{self.server.port}", timeout=120)
        length = 100_000
        self.kinds = gen.op_mix(length, ["search"] * 8 + ["docsearch", "get"])
        self.qidx = gen.zipf_stream(self.seed, pool, length)
        self.pool = gen.query_pool(self.seed, pool)
        rng = np.random.default_rng([self.seed, 5])
        self.get_ids = rng.integers(0, self.n, length)
        self.tags = rng.integers(0, gen.N_TAGS, length)
        # warm-up: one search at a vector outside the pool and one get; the
        # filtered search shares the search path, and warming it too would
        # cost a whole request of set-up in every run
        t = time.perf_counter()
        self.http.search_vectors("serve", (self.pool[0] * 1.001).tolist(), limit=K)
        self.http.get_document("serve", gen.doc_id(0))
        self.ctx.log(f"warm-up {time.perf_counter() - t:.2f} s")

    def _op(self, i: int) -> bool:
        kind = self.kinds[i]
        if kind == "get":
            j = int(self.get_ids[i])
            doc = self.http.get_document("serve", gen.doc_id(j))
            return np.array_equal(np.asarray(doc["vector"], dtype=np.float32), self.vecs[j])
        q = self.pool[self.qidx[i]]
        if kind == "search":
            out = self.http.search_vectors("serve", q.tolist(), limit=K)
            return check_hits(self.vecs, q, out["ids"], out["distances"], K)
        tag = str(self.tags[i])
        out = self.http.search_documents("serve", q.tolist(), limit=K, filter={"tag": tag})
        docs = out["documents"]
        ids = [d["id"] for d in docs]
        return (
            len(docs) <= K
            and all(d["parameters"].get("tag") == tag for d in docs)
            and all(np.array_equal(np.asarray(d["vector"], dtype=np.float32), self.vecs[int(d["id"][1:])]) for d in docs)
            and check_hits(self.vecs, q, ids, out["distances"], None)
        )

    def measure(self, seconds: float) -> list[Op]:
        """Replay the request stream from its start on an empty result
        cache, so a traced window repeats the untraced one."""
        self.client.cache.clear()
        self.taken = 0
        lock = threading.Lock()
        ops: list[Op] = []
        hits0, misses0 = self.client.cache.hits, self.client.cache.misses
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def loop():
            while True:
                with lock:
                    if time.perf_counter() >= deadline and self.taken >= self.measured:
                        return
                    i = self.taken
                    self.taken += 1
                start = time.perf_counter()
                try:
                    ok = self._op(i)
                except Exception as e:  # noqa: BLE001 — a failed request is counted, not fatal
                    self.ctx.log(f"{self.kinds[i]} failed: {e!r}")
                    ok = False
                ops.append(Op(self.kinds[i], start, time.perf_counter(), ok, seq=i))

        threads = [threading.Thread(target=loop) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.window = (t0, max(o.end for o in ops))
        self.cache_delta = (self.client.cache.hits - hits0, self.client.cache.misses - misses0)
        return ops

    def summary(self, ops: list[Op]) -> dict:
        t0, t1 = self.window
        by = {k: [o.ms for o in ops if o.kind == k] for k in ("search", "docsearch", "get")}
        m = {
            "requests_per_s": (len(ops) / (t1 - t0), "1/s"),
            "search_p50_ms": (median(by["search"]), "ms"),
        }
        if len(by["search"]) >= 100:
            m["search_p90_ms"] = (pct(by["search"], 90), "ms")
        for k in ("docsearch", "get"):
            if by[k]:
                m[f"{k}_p50_ms"] = (median(by[k]), "ms")
        # few requests fit in a window and their latencies cluster at 0, 1
        # or 2 service times (a hit, a miss, a miss queued behind the other
        # client's miss), so a median jumps between clusters and any
        # summary over "whatever finished in time" changes its mix; the
        # mean over one fixed set of requests is the steady summary
        first = [o for o in ops if o.seq < self.measured]
        m["latency_ms"] = (sum(o.ms for o in first) / len(first), "ms")
        m["throughput_per_s"] = (len(first) / (max(o.end for o in first) - t0), "1/s")
        return m

    def layer_metrics(self, tracer) -> dict:
        from oasisdb_spark.index.ivf import ivf_search_stats
        from tracing import spark_counts

        spans = tracer.spans
        requests = [s for s in spans if s["name"] == "server.dispatch"]
        n_req = len(requests)
        m = {"server.requests": (n_req, "count")}
        kinds = ("search_vectors", "search_documents", "get_document")
        http = sum(sum(tracer.durations_ms(f"http_client.{k}")) for k in kinds)
        inner = sum(sum(tracer.durations_ms(f"client.{k}")) for k in kinds)
        wait = sum(tracer.durations_ms("server.lock_wait"))
        # round trip minus the OasisClient call, less the lock wait that
        # server.lock_wait_ms reports on its own
        m["server.overhead_ms"] = ((http - inner - wait) / max(n_req, 1), "ms")
        m["server.lock_wait_ms"] = (wait / max(n_req, 1), "ms")
        hits, misses = self.cache_delta
        m["cache.lookups"] = (hits + misses, "count")
        m["cache.hit_ratio"] = (hits / max(hits + misses, 1), "ratio")
        parents = {s["parent"] for s in spans if s["name"] == "search.search_vectors"}
        cached = [s for s in spans if s["name"] == "search.cached_search_vectors"]
        hit_ms = [(s["end"] - s["start"]) * 1e3 for s in cached if s["id"] not in parents]
        miss_ms = [(s["end"] - s["start"]) * 1e3 for s in cached if s["id"] in parents]
        m["cache.hit_ms"] = (median(hit_ms) if hit_ms else 0.0, "ms")
        m["cache.miss_ms"] = (median(miss_ms) if miss_ms else 0.0, "ms")
        gc = [s for s in spans if s["name"] == "catalog.get_collection" and s["rid"]]
        m["catalog.get_collection_calls_per_request"] = (len(gc) / max(n_req, 1), "count")
        m["catalog.get_collection_ms"] = (median([(s["end"] - s["start"]) * 1e3 for s in gc]) if gc else 0.0, "ms")
        plan = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == "search.search_vectors" and s["rid"]]
        m["search.plan_ms"] = (median(plan) if plan else 0.0, "ms")
        by_id = {s["id"]: s for s in spans}
        execs = [
            (s["end"] - s["start"]) * 1e3 for s in spans
            if s["name"] == "spark.collect" and s["rid"]
            and by_id.get(s["parent"], {}).get("name") in ("search.cached_search_vectors", "client.search_documents")
        ]
        m["search.exec_ms"] = (median(execs) if execs else 0.0, "ms")
        jobs = tasks = 0
        for s in requests:
            j, t = spark_counts(self.spark, f"pb-{s['rid']}")
            jobs, tasks = jobs + j, tasks + t
        m["spark.jobs_per_request"] = (jobs / max(n_req, 1), "count")
        m["spark.tasks_per_request"] = (tasks / max(n_req, 1), "count")
        # rows the probe join examines per row returned, for the pool
        # queries the window searched
        searched = sorted({int(self.qidx[i]) for i in range(self.taken) if self.kinds[i] == "search"})
        cat = self.client.catalog
        coll = cat.get_collection("serve")
        d = cat.index_path("serve", coll.index_version)
        qdf = self.spark.createDataFrame(
            [(j, self.pool[j].tolist()) for j in searched], "query_id INT, query_vec ARRAY<FLOAT>"
        )
        st = ivf_search_stats(
            qdf, self.spark.read.parquet(f"{d}/centroids"), self.spark.read.parquet(f"{d}/lists"),
            nprobe=max(1, int(coll.params.get("efsearch", "10")) // 2),  # hnsw: efsearch -> nprobe
        ).agg({"n_candidates": "sum"}).collect()[0][0]
        m["index.ivf.candidates_per_result"] = (st / (len(searched) * K), "ratio")
        return m

    def close(self):
        if getattr(self, "server", None) is not None:
            self.server.shutdown()


# --------------------------------------------------------------------------
class BatchKnn(Workload):
    """Offline index build and batch search over the reference's three
    algorithms: one collection each of flat, hnsw (IVF) and ivfpq
    holding the same documents. Each timed window builds every index,
    then runs rounds of one distinct-query batch per tier, collected as
    a caller would."""

    name = "batch_knn"
    TIERS = (("flat", "flat"), ("ivf", "hnsw"), ("ivfpq", "ivfpq"))

    def setup(self):
        from oasisdb_spark.catalog import Catalog

        self.n = 2_000 if self.smoke else 10_000
        self.batch = {"flat": 20, "ivf": 5, "ivfpq": 5} if self.smoke else {"flat": 100, "ivf": 25, "ivfpq": 10}
        self.catalog = Catalog(self.spark, self.ctx.warehouse)
        t = time.perf_counter()
        # generated once, loaded three times
        docs = gen.corpus_frame(self.spark, self.seed, 0, self.n).localCheckpoint()
        for tier, index_type in self.TIERS:
            self.catalog.create_collection(f"b_{tier}", gen.DIM, index_type=index_type)
            self.catalog.upsert_documents(f"b_{tier}", docs)
        self.ctx.log(f"load {time.perf_counter() - t:.2f} s")
        self.vecs = gen.corpus_vectors(self.seed, 0, self.n)
        per_round = sum(self.batch.values())
        self.rounds_max = 40
        self.queries = gen.query_pool(self.seed, per_round * (self.rounds_max + 1))
        self.round = itertools.count()
        self.recall = {"ivf": [], "ivfpq": []}
        self.tier_s = {tier: [] for tier, _ in self.TIERS}
        self.tier_tasks: list[int] = []

    def _build_all(self) -> dict[str, float]:
        from oasisdb_spark.search import build_index

        out = {}
        for tier, _ in self.TIERS:
            t = time.perf_counter()
            build_index(self.catalog, f"b_{tier}")
            out[tier] = time.perf_counter() - t
        return out

    def _round_ops(self, r: int) -> list[Op]:
        from oasisdb_spark.search import search_vectors

        ops = []
        lo = r * sum(self.batch.values())
        for tier, _ in self.TIERS:
            nq = self.batch[tier]
            q = self.queries[lo : lo + nq]
            lo += nq
            truth, _ = gen.exact_topk(self.vecs, q, K)
            qdf = self.spark.createDataFrame(
                [(j, q[j].tolist()) for j in range(nq)], "query_id INT, query_vec ARRAY<FLOAT>"
            )
            rid = f"b{r}{tier}"
            traced = self.ctx.tracer is not None and self.ctx.tracer.enabled
            if traced:
                self.spark.sparkContext.setJobGroup(f"pb-{rid}", "benchmark batch", False)
            start = time.perf_counter()
            if traced:
                with self.ctx.tracer.span("search", "exec", rid=rid):
                    rows = search_vectors(self.catalog, f"b_{tier}", qdf, K).collect()
            else:
                rows = search_vectors(self.catalog, f"b_{tier}", qdf, K).collect()
            end = time.perf_counter()
            got: dict[int, list] = {}
            for row in rows:
                got.setdefault(row["query_id"], []).append((row["rank"], row["id"], row["distance"]))
            ok = len(got) == nq
            hits = 0
            for j in range(nq):
                res = sorted(got.get(j, []))
                ids, dists = [x[1] for x in res], [x[2] for x in res]
                ok = ok and check_hits(self.vecs, q[j], ids, dists, K)
                truth_ids = {gen.doc_id(int(t)) for t in truth[j]}
                hits += len(truth_ids & set(ids))
                if tier == "flat":
                    # exact tier: the k-th distance must equal the truth's
                    # (ids may differ only inside a distance tie)
                    d_true = float(gen.sq_dist(self.vecs[truth[j][-1:]], q[j][None, :])[0, 0])
                    ok = ok and bool(dists) and math.isclose(dists[-1], d_true, rel_tol=1e-4, abs_tol=1e-3)
            if tier in self.recall:
                self.recall[tier].append(hits / (nq * K))
            self.tier_s[tier].append(end - start)
            if traced:
                from tracing import spark_counts

                self.tier_tasks.append(spark_counts(self.spark, f"pb-{rid}")[1])
            ops.append(Op(tier, start, end, ok, n=nq))
        return ops

    def measure(self, seconds: float) -> list[Op]:
        """Build every tier, then search rounds until ``seconds`` have
        passed (at least one). Loading in set-up has already started the
        Python workers the builds and searches use."""
        deadline = time.perf_counter() + seconds
        self.build_s = self._build_all()
        self.ctx.log("builds " + ", ".join(f"{k} {v:.2f} s" for k, v in self.build_s.items()))
        ops: list[Op] = []
        self.rounds: list[float] = []
        while time.perf_counter() < deadline or not self.rounds:
            r = next(self.round)
            if r > self.rounds_max:
                break
            round_ops = self._round_ops(r)
            self.rounds.append(sum(o.end - o.start for o in round_ops))
            ops.extend(round_ops)
        return ops

    def summary(self, ops: list[Op]) -> dict:
        m = {}
        for tier, _ in self.TIERS:
            t = [o for o in ops if o.kind == tier]
            m[f"knn_qps.{tier}"] = (median([o.n / (o.end - o.start) for o in t]), "1/s")
        for tier in ("ivf", "ivfpq"):
            m[f"recall_at_10.{tier}"] = (sum(self.recall[tier]) / len(self.recall[tier]), "fraction")
        m["build_s"] = (sum(self.build_s.values()), "s")
        m["round_ms"] = (median(self.rounds) * 1e3, "ms")
        # what a caller of the offline job waits for: build every index,
        # then answer one batch on each
        m["latency_ms"] = (m["build_s"][0] * 1e3 + m["round_ms"][0], "ms")
        m["throughput_per_s"] = (sum(o.n for o in ops) / sum(o.end - o.start for o in ops), "1/s")
        m["sigma"] = (gen.SIGMA, "1")
        return m

    def layer_metrics(self, tracer) -> dict:
        m = {}
        m["index.ivf.batch_s"] = (median(self.tier_s["ivf"]), "s")
        m["index.ivfpq.batch_s"] = (median(self.tier_s["ivfpq"]), "s")
        m["ann.brute_batch_s"] = (median(self.tier_s["flat"]), "s")
        m["index.ivf.build_s"] = (sum(tracer.durations_ms("index.ivf.build_ivf")) / 1e3, "s")
        m["index.ivfpq.build_s"] = (sum(tracer.durations_ms("index.ivfpq.build_ivfpq")) / 1e3, "s")
        m["index.kmeans.fit_ms"] = (sum(tracer.durations_ms("index.kmeans.kmeans_fit")), "ms")
        ex = tracer.durations_ms("search.exec")
        m["search.exec_ms"] = (median(ex) if ex else 0.0, "ms")
        plan = tracer.durations_ms("search.search_vectors")
        m["search.plan_ms"] = (median(plan) if plan else 0.0, "ms")
        m["spark.tasks_per_batch"] = (median(self.tier_tasks) if self.tier_tasks else 0.0, "count")
        m["spark.batches"] = (len(self.tier_tasks), "count")
        return m

# --------------------------------------------------------------------------
class IngestChurn(Workload):
    """Writes beside reads through the embedded OasisClient: a closed loop
    of 1 client over a built hnsw collection, mixing 100-document batch
    upserts, single upserts of existing ids, deletes, and a
    read-your-writes probe (search a vector, upsert a new document at
    exactly that vector, search again), with build_index every
    REBUILD_EVERY writes."""

    name = "ingest_churn"
    REBUILD_EVERY = 8
    BATCH = 100

    def setup(self):
        from oasisdb_spark.client import OasisClient

        self.n = 2_000 if self.smoke else 10_000
        self.client = OasisClient(self.spark, self.ctx.warehouse)
        self.client.create_collection("churn", gen.DIM)
        self.client.catalog.upsert_documents("churn", gen.corpus_frame(self.spark, self.seed, 0, self.n))
        self.client.build_index("churn")
        vecs = gen.corpus_vectors(self.seed, 0, self.n)
        self.alive = {gen.doc_id(i): vecs[i] for i in range(self.n)}
        self.data_dir = self.client.catalog.data_path("churn")
        self.kinds = iter(gen.op_mix(100_000, ["batch", "upsert", "upsert", "delete", "probe"]))
        self.rng = np.random.default_rng([self.seed, 6])
        self.cent = gen.centers(self.seed)
        self.new_ids = itertools.count()
        self.writes = 0
        self.builds: list[float] = []
        self.write_bytes = [0, 0]  # written, user
        self.vecs = vecs
        # warm-up: one probe search (not counted)
        self.client.search_vectors("churn", self._fresh(1)[0].tolist(), limit=K)

    def _fresh(self, n: int) -> np.ndarray:
        which = self.rng.integers(0, gen.N_CENTERS, n)
        return (self.cent[which] + gen.SIGMA * self.rng.standard_normal((n, gen.DIM))).astype(np.float32)

    def _write(self, kind: str, fn, docs: list[tuple[str, np.ndarray]], subs: list[Op]) -> None:
        """Time one write call; in a traced run, diff the collection's
        files around it (outside the timing)."""
        from tracing import bytes_written, tree_stats

        traced = self.ctx.tracer is not None and self.ctx.tracer.enabled
        before = tree_stats(self.ctx.warehouse) if traced else None
        t = time.perf_counter()
        fn()
        subs.append(Op(kind, t, time.perf_counter(), True, len(docs)))
        if before is not None:
            self.write_bytes[0] += bytes_written(before, tree_stats(self.ctx.warehouse))
            self.write_bytes[1] += sum(len(i) + 4 * gen.DIM for i, _ in docs)
        self.writes += 1

    def _search(self, q, subs: list[Op]) -> tuple[bool, list]:
        t = time.perf_counter()
        out = self.client.search_vectors("churn", q.tolist(), limit=K)
        subs.append(Op("search", t, time.perf_counter(), True))
        return check_hits(self.vecs, q, out["ids"], out["distances"], K, alive=self.alive), out["ids"]

    def _op(self, kind: str) -> tuple[bool, list[Op]]:
        """Returns (ok, timed sub-operations)."""
        subs: list[Op] = []
        ok = True
        if kind == "batch":
            docs = [(f"n{next(self.new_ids):07d}", v) for v in self._fresh(self.BATCH)]
            payload = [{"id": i, "vector": v.tolist()} for i, v in docs]
            self._write("batch_upsert", lambda: self.client.batch_upsert_documents("churn", payload), docs, subs)
            self.alive.update(docs)
        elif kind == "upsert":
            ids = sorted(self.alive)
            i = ids[int(self.rng.integers(0, len(ids)))]
            v = self._fresh(1)[0]
            # an id already in the built index keeps its built vector until
            # the next rebuild; searches check ids, not that vector
            self._write("upsert", lambda: self.client.upsert_document("churn", doc_id=i, vector=v.tolist()), [(i, v)], subs)
            self.alive[i] = v
        elif kind == "delete":
            ids = sorted(self.alive)
            i = ids[int(self.rng.integers(0, len(ids)))]
            self._write("delete", lambda: self.client.delete_document("churn", i), [], subs)
            del self.alive[i]
        else:  # read-your-writes probe
            q = self._fresh(1)[0]
            ok1, _ = self._search(q, subs)
            new = f"n{next(self.new_ids):07d}"
            self._write("upsert", lambda: self.client.upsert_document("churn", doc_id=new, vector=q.tolist()), [(new, q)], subs)
            self.alive[new] = q
            ok2, ids = self._search(q, subs)
            ok = ok1 and ok2 and ids[:1] == [new]
        if self.writes >= self.REBUILD_EVERY:
            t = time.perf_counter()
            self.client.build_index("churn")
            subs.append(Op("build", t, time.perf_counter(), True))
            self.builds.append(time.perf_counter() - t)
            self.writes = 0
        return ok, subs

    def measure(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        self.subs: list[Op] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds
        while time.perf_counter() < deadline or not ops:
            kind = next(self.kinds)
            start = time.perf_counter()
            try:
                ok, subs = self._op(kind)
            except Exception as e:  # noqa: BLE001 — a failed write is counted, not fatal
                self.ctx.log(f"{kind} failed: {e!r}")
                ok, subs = False, []
            ops.append(Op(kind, start, time.perf_counter(), ok))
            self.subs.extend(subs)
        self.window = (t0, ops[-1].end)
        return ops

    def summary(self, ops: list[Op]) -> dict:
        t0, t1 = self.window
        ups = [o for o in self.subs if o.kind == "upsert"]
        writes = [o for o in self.subs if o.kind in ("upsert", "batch_upsert")]
        searches = [o.ms for o in self.subs if o.kind == "search"]
        m = {}
        if ups:
            m["upsert_p50_ms"] = (median([o.ms for o in ups]), "ms")
        if writes:
            m["upsert_docs_per_s"] = (sum(o.n for o in writes) / sum(o.end - o.start for o in writes), "1/s")
        if searches:
            m["search_p50_ms"] = (median(searches), "ms")
            if len(searches) >= 100:
                m["search_p90_ms"] = (pct(searches, 90), "ms")
        if self.builds:
            m["build_s"] = (median(self.builds), "s")
        m["latency_ms"] = (median([o.ms for o in ops]), "ms")
        m["throughput_per_s"] = (len(ops) / (t1 - t0), "1/s")
        return m

    def layer_metrics(self, tracer) -> dict:
        from tracing import data_files

        m = {}
        for name, key in (("catalog.upsert_documents", "catalog.upsert_documents_ms"),
                          ("catalog.delete_document", "catalog.delete_document_ms"),
                          ("search.add_to_index", "search.add_to_index_ms"),
                          ("search.build_index", "search.build_index_ms"),
                          ("catalog.get_collection", "catalog.get_collection_ms")):
            d = tracer.durations_ms(name)
            m[key] = (median(d) if d else 0.0, "ms")
        m["catalog.user_bytes"] = (self.write_bytes[1], "B")
        m["catalog.bytes_written_per_user_byte"] = (self.write_bytes[0] / max(self.write_bytes[1], 1), "ratio")
        m["catalog.data_files"] = (data_files(self.data_dir), "count")
        return m


WORKLOADS = {w.name: w for w in (ServeZipf, BatchKnn, IngestChurn)}
