"""Span recorder and outside-in counters for the traced run.

Spans are recorded from the benchmark's own files: ``patch`` replaces a
public function with a timing wrapper under the name the caller looks it
up by (``search.py`` imports ``knn_ivf`` into its own namespace, so
``oasisdb_spark.search.knn_ivf`` is the name patched). Each span keeps
its name, start, end, parent span and request id; spans stay in memory
until ``write`` dumps them. Nothing here is active in an untraced run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

# Layer metric -> (end-to-end metric it should move, workload).
MOVES = {
    "server.lock_wait_ms": ("search_p90_ms, requests_per_s", "serve_zipf"),
    "server.overhead_ms": ("search_p50_ms", "serve_zipf"),
    "cache.hit_ratio": ("requests_per_s", "serve_zipf"),
    "cache.hit_ms": ("search_p50_ms", "serve_zipf"),
    "cache.miss_ms": ("search_p50_ms", "serve_zipf"),
    "catalog.get_collection_calls_per_request": ("search_p50_ms, get_p50_ms, upsert_p50_ms", "serve_zipf, ingest_churn"),
    "catalog.get_collection_ms": ("search_p50_ms, get_p50_ms, upsert_p50_ms", "serve_zipf, ingest_churn"),
    "catalog.upsert_documents_ms": ("upsert_p50_ms, upsert_docs_per_s", "ingest_churn"),
    "catalog.delete_document_ms": ("upsert_p50_ms, upsert_docs_per_s", "ingest_churn"),
    "catalog.bytes_written_per_user_byte": ("upsert_docs_per_s", "ingest_churn"),
    "catalog.data_files": ("upsert_docs_per_s", "ingest_churn"),
    "search.plan_ms": ("search_p50_ms", "serve_zipf"),
    "search.exec_ms": ("knn_qps.*", "batch_knn"),
    "search.add_to_index_ms": ("upsert_p50_ms", "ingest_churn"),
    "search.build_index_ms": ("build_s", "batch_knn, ingest_churn"),
    "index.ivf.batch_s": ("knn_qps.ivf", "batch_knn"),
    "index.ivfpq.batch_s": ("knn_qps.ivfpq", "batch_knn"),
    "index.ivf.build_s": ("build_s", "batch_knn"),
    "index.ivfpq.build_s": ("build_s", "batch_knn"),
    "index.kmeans.fit_ms": ("build_s", "batch_knn"),
    "index.ivf.candidates_per_result": ("search_p50_ms, knn_qps.ivf", "serve_zipf, batch_knn"),
    "ann.brute_batch_s": ("knn_qps.flat", "batch_knn"),
    "spark.jobs_per_request": ("search_p50_ms", "serve_zipf"),
    "spark.tasks_per_request": ("search_p50_ms", "serve_zipf"),
    "spark.tasks_per_batch": ("knn_qps.*", "batch_knn"),
    "session.start_s": ("setup_s", "all"),
}

LAYERS = [
    "session", "http_client", "server", "client", "cache", "catalog", "search",
    "index.ivf", "index.ivfpq", "index.kmeans", "pipeline.ann", "spark",
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._rids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = True

    def new_request(self) -> str:
        return f"r{next(self._rids)}"

    @contextmanager
    def span(self, layer: str, op: str, rid: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "layer": layer,
            "name": f"{layer}.{op}",
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def patch(self, owner, attr: str, layer: str, op: str | None = None) -> None:
        """Replace owner.attr with a wrapper that records one span per call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(layer, op or attr):
                return orig(*args, **kwargs)

        # a function patched on a class must stay a plain function so
        # instances still bind it as a method
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------- report ----------
    def layer_report(self) -> dict[str, dict[str, float]]:
        """count, total and self time (ms) per layer. total counts only
        spans whose parent is in another layer, so a layer calling
        itself is not counted twice; self time is a span's duration
        minus its children's (children run nested on the same thread)."""
        by_id = {s["id"]: s for s in self.spans}
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        out = {layer: {"count": 0, "total_ms": 0.0, "self_ms": 0.0} for layer in LAYERS}
        for s in self.spans:
            row = out.setdefault(s["layer"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            dur = (s["end"] - s["start"]) * 1e3
            row["count"] += 1
            row["self_ms"] += dur - child_ms.get(s["id"], 0.0)
            parent = by_id.get(s["parent"])
            if parent is None or parent["layer"] != s["layer"]:
                row["total_ms"] += dur
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


class TimedLock:
    """Stands in for a threading.Lock and records the wait to acquire it."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tracer = tracer

    def __enter__(self):
        if not self._tracer.enabled:
            self._lock.acquire()
            return self
        with self._tracer.span("server", "lock_wait"):
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()


def install(tracer: Tracer, spark) -> None:
    """Wrap the public functions of every layer below the client."""
    from oasisdb_spark import search
    from oasisdb_spark.catalog import Catalog
    from oasisdb_spark.http_client import HttpOasisClient
    from oasisdb_spark.index import ivf, ivfpq
    from oasisdb_spark.pipeline import ann

    for attr in ("get_collection", "read_documents", "upsert_documents", "delete_document",
                 "get_document", "bump_index_version"):
        tracer.patch(Catalog, attr, "catalog")
    for attr in ("search_vectors", "cached_search_vectors", "search_documents",
                 "build_index", "add_to_index"):
        tracer.patch(search, attr, "search")
    tracer.patch(search, "knn_ivf", "index.ivf")
    tracer.patch(search, "build_ivf", "index.ivf")
    tracer.patch(search, "knn_ivfpq", "index.ivfpq")
    tracer.patch(search, "build_ivfpq", "index.ivfpq")
    tracer.patch(ivf, "kmeans_fit", "index.kmeans")
    tracer.patch(ivfpq, "kmeans_fit", "index.kmeans")
    tracer.patch(ann, "knn_brute_batched", "pipeline.ann")
    # the session's concrete DataFrame class, which defines collect/count
    for attr in ("collect", "count"):
        tracer.patch(type(spark.range(1)), attr, "spark")
    for attr in ("search_vectors", "search_documents", "get_document"):
        tracer.patch(HttpOasisClient, attr, "http_client")


def install_serving(tracer: Tracer, client=None, server=None) -> None:
    """Wrap one OasisClient instance, its cache and one OasisServer."""
    if client is not None:
        for attr in ("search_vectors", "search_documents", "get_document", "upsert_document",
                     "batch_upsert_documents", "delete_document", "build_index"):
            tracer.patch(client, attr, "client")
        tracer.patch(client.cache, "get", "cache")
        tracer.patch(client.cache, "put", "cache")
    if server is not None:
        server._lock = TimedLock(server._lock, tracer)
        handler = server.httpd.RequestHandlerClass
        orig = handler._dispatch
        sc = client.catalog.spark.sparkContext

        def dispatch(self, method):
            if not tracer.enabled:
                return orig(self, method)
            rid = tracer.new_request()
            sc.setJobGroup(f"pb-{rid}", "benchmark request", False)
            with tracer.span("server", "dispatch", rid=rid):
                return orig(self, method)

        handler._dispatch = dispatch
        tracer._patched.append((handler, "_dispatch", orig))


def spark_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from StatusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def tree_stats(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime) of every regular file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two tree_stats."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def data_files(root: str) -> int:
    """Parquet files a reader of the collection's current generation scans."""
    ptr = os.path.join(root, "_current")
    if not os.path.exists(ptr):
        return 0
    with open(ptr) as fh:
        gen = os.path.join(root, fh.read().strip())
    return sum(1 for _, _, fs in os.walk(gen) for f in fs if f.endswith(".parquet"))
