"""localCheckpoint / persist lifecycle management (OPTIMIZATION r13,
guide §5).

``DataFrame.localCheckpoint`` materializes a frame's rows into
block-manager storage and truncates lineage — but the DataFrame API
has no matching release call: ``DataFrame.unpersist()`` only covers
``persist()`` entries registered with the CacheManager, so every
checkpoint holds its blocks until the JVM garbage-collects the RDD.
A long-lived session that re-executes an operator (the bench runs
every entry 3-4x in one JVM; a service would run them indefinitely)
therefore accumulates one dead generation of checkpoint blocks per
execution (VERDICT r12 #2: "zero unpersist calls anywhere").

Design: a session-scoped REGISTRY, not per-result finalizers. An
earlier draft tied each operator's checkpoints to the garbage
collection of its returned DataFrame wrapper (``weakref.finalize``)
— and failed in practice: entries that return a frame DERIVED from
the operator result drop the wrapper immediately, the finalizer
fires, and the derived frame's job dies with
``checkpointRDDBlockIdNotFoundError`` (observed on events_outliers /
mad_outliers). Python wrapper lifetime simply does not track plan
lifetime, so nothing here frees storage implicitly.

Instead, operators call ``track(df)`` on each checkpointed
intermediate (``track_persist(df)`` for CacheManager entries), and
the HARNESS — which alone knows when a query's result has been fully
materialized and will never be read again — calls
``release_tracked()`` between queries (bench.py between timed
entries, scripts/check_oracle.py and scripts/qtime.py between
comparisons). That keeps block-manager growth bounded at one entry's
working set across the bench's repeated sweeps.

Consumers that never call ``release_tracked()`` (unit tests, library
users) fall back to the pre-round-13 behavior — blocks freed when the
JVM garbage-collects the RDD. The registry caps itself so it cannot
grow without bound: past ``_CAP`` tracked handles the OLDEST reference
is dropped WITHOUT unpersisting it, because a library consumer may
still hold and re-run that frame; its blocks then live until the JVM
collects the RDD, as if it had never been tracked.

``free_checkpoint(df)`` releases one checkpointed frame immediately —
for iterative operators where generation N+1 is materialized and
generation N is provably dead (connected_components' label frames).
Best-effort by design: freeing storage must never fail a query (a
stopped context or a plan that is not a LogicalRDD is ignored).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

__all__ = [
    "track",
    "track_persist",
    "release_tracked",
    "free_checkpoint",
    "checkpoint_rdd_handle",
]

_CAP = 128

# py4j handles with an unpersist(blocking) method: checkpointed RDDs
# and CacheManager (persist) Datasets. Guarded by _LOCK: operators may
# run on several driver threads.
_TRACKED: list[object] = []
_LOCK = threading.Lock()


def checkpoint_rdd_handle(df: DataFrame):
    """The py4j handle of the RDD backing a localCheckpoint-ed frame
    (its analyzed plan is the LogicalRDD leaf created by
    ``Dataset.checkpoint``), or None when the plan is not a
    checkpoint leaf."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:
        return None


def _release(handle) -> None:
    try:
        handle.unpersist(False)
    except Exception:
        pass  # context stopped / gateway gone: nothing to free


def _track_handle(handle) -> None:
    with _LOCK:
        _TRACKED.append(handle)
        if len(_TRACKED) > _CAP:
            del _TRACKED[0]  # drop the reference only; never unpersist here


def track(df: DataFrame) -> DataFrame:
    """Register a localCheckpoint-ed intermediate for release at the
    harness's next ``release_tracked()``. Returns ``df`` for
    chaining. No-op (safe) when the frame is not a checkpoint leaf."""
    h = checkpoint_rdd_handle(df)
    if h is not None:
        _track_handle(h)
    return df


def track_persist(df: DataFrame) -> DataFrame:
    """persist() analogue of ``track``: register a CacheManager entry
    for release at the next ``release_tracked()``."""
    try:
        _track_handle(df._jdf)
    except Exception:
        pass
    return df


def release_tracked() -> int:
    """Release every tracked checkpoint/persist. Call ONLY between
    queries — once the previous query's result (and every frame
    derived from it) has been fully materialized and will never run
    again. Returns the number of handles released."""
    with _LOCK:
        handles = _TRACKED[::-1]
        _TRACKED.clear()
    for h in handles:
        _release(h)
    return len(handles)


def free_checkpoint(df: DataFrame) -> None:
    """Immediately release the block-manager storage of a
    localCheckpoint-ed frame. Only call once nothing will read the
    frame (or a frame derived from it) again."""
    h = checkpoint_rdd_handle(df)
    if h is not None:
        _release(h)
