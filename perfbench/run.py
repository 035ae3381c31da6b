"""Benchmark entry point: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds nothing: the engine is the Python
package ``oasisdb_spark`` beside this directory, run on a local Spark
session started here. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints per-layer metrics from a run whose window is split
into a traced half and an untraced half (the difference bounds the
tracing overhead) and writes the spans under ``.perfbench/``. ``--smoke`` shrinks
every input for a run of a few seconds.

Every line before the last is a human-readable report; the last line is
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Reported by every workload; what latency and throughput mean is each
# workload's own (see its summary). peak_rss_mb is printed, not bounded:
# it moves with JVM garbage-collection timing by more than any bound.
END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from tracing import LAYERS

    names = {}
    for layer in LAYERS:
        names[f"{layer}.count"] = "count"
        names[f"{layer}.total_ms"] = "ms"
        names[f"{layer}.self_ms"] = "ms"
    names.update({
        "session.start_s": "s",
        "server.requests": "count",
        "server.lock_wait_ms": "ms",
        "server.overhead_ms": "ms",
        "cache.lookups": "count",
        "cache.hit_ratio": "ratio",
        "cache.hit_ms": "ms",
        "cache.miss_ms": "ms",
        "catalog.get_collection_calls_per_request": "count",
        "catalog.get_collection_ms": "ms",
        "catalog.upsert_documents_ms": "ms",
        "catalog.delete_document_ms": "ms",
        "catalog.user_bytes": "B",
        "catalog.bytes_written_per_user_byte": "ratio",
        "catalog.data_files": "count",
        "search.plan_ms": "ms",
        "search.exec_ms": "ms",
        "search.add_to_index_ms": "ms",
        "search.build_index_ms": "ms",
        "index.ivf.batch_s": "s",
        "index.ivfpq.batch_s": "s",
        "index.ivf.build_s": "s",
        "index.ivfpq.build_s": "s",
        "index.kmeans.fit_ms": "ms",
        "index.ivf.candidates_per_result": "ratio",
        "ann.brute_batch_s": "s",
        "spark.jobs_per_request": "count",
        "spark.tasks_per_request": "count",
        "spark.batches": "count",
        "spark.tasks_per_batch": "count",
        "trace.spans": "count",
        "trace.overhead_ms": "ms",
    })
    return names


class Ctx:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.smoke = args.smoke
        self.warehouse = os.path.join(work, "warehouse")
        self.tracer = None
        self.spark = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def hygiene(work: str) -> None:
    """Environment for a local Spark run that stays inside the checkout."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # Python workers import the engine and the generator by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    from tracing import Tracer, install, install_serving
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    hygiene(work)
    ctx = Ctx(args, work)
    spark = None
    try:
        t0 = time.perf_counter()
        from oasisdb_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        ctx.log(f"session {session_s:.2f} s")
        ctx.spark = spark
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None

        if args.trace:
            ctx.tracer = tracer = Tracer()
            with tracer.span("session", "start") as s:
                pass
            s["start"], s["end"] = s["end"] - session_s, s["end"]
            install(tracer, spark)
            tracer.enabled = False  # set-up is not traced
        wl = WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        try:
            if not args.trace:
                ops = wl.measure(args.seconds)
                table = wl.summary(ops)
            else:
                # traced half first: warm-up left in the first window then
                # counts against tracing, so the overhead is an upper bound
                install_serving(tracer, getattr(wl, "client", None), getattr(wl, "server", None))
                tracer.enabled = True
                ops_t = wl.measure(args.seconds / 2)
                traced = wl.summary(ops_t)
                tracer.enabled = False
                layers = wl.layer_metrics(tracer)
                ops_u = wl.measure(args.seconds / 2)
                table = wl.summary(ops_u)
                ops = ops_t + ops_u
                tracer.restore()
        finally:
            wl.close()
        table["setup_s"] = (setup_s, "s")
        table["peak_rss_mb"] = (peak_rss_mb(jvm_pid), "MB")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(not o.ok for o in ops)
    table["error_rate"] = (failed / attempted, "fraction")
    print(f"workload {args.workload}  seed {args.seed}  attempted {attempted}  failed {failed}")
    for name, (value, unit) in table.items():
        print(f"  {name:<28} {value:>14.6g} {unit}")
    if not args.trace:
        metrics = {k: {"value": table[k][0], "unit": u} for k, u in END_TO_END.items()}
    else:
        report = tracer.layer_report()
        out = dict(layers)
        out["session.start_s"] = (session_s, "s")
        out["trace.spans"] = (len(tracer.spans), "count")
        out["trace.overhead_ms"] = (traced["latency_ms"][0] - table["latency_ms"][0], "ms")
        for layer, row in report.items():
            for key, value in row.items():
                out[f"{layer}.{key}"] = (value, "count" if key == "count" else "ms")
        print(f"tracing overhead: latency_ms traced {traced['latency_ms'][0]:.3f} - untraced {table['latency_ms'][0]:.3f}")
        print(f"  {'layer':<14} {'count':>8} {'total_ms':>12} {'self_ms':>12}")
        for layer, row in report.items():
            print(f"  {layer:<14} {row['count']:>8} {row['total_ms']:>12.1f} {row['self_ms']:>12.1f}")
        from tracing import MOVES

        for name, (value, unit) in out.items():
            moves = MOVES.get(name)
            hint = f"  -> {moves[0]} on {moves[1]}" if moves else ""
            print(f"  {name:<42} {value:>12.6g} {unit}{hint}")
        path = os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(path)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
        metrics = {
            name: {"value": out[name][0] if name in out else 0, "unit": unit}
            for name, unit in per_layer_names().items()
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve_zipf", "batch_knn", "ingest_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke tests")
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import oasisdb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
