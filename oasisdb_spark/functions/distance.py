"""Distance kernels as native Spark Column expressions.

Reference semantics (internal/index/distance.go:5-41):
- l2        : SQUARED euclidean distance, no sqrt (distance.go:33-39)
- ip        : negative dot product, -dot (distance.go:7-13)
- cos       : 1 - cosine similarity; zero-norm guard returns 1.0
              (distance.go:14-24)
- hamming   : count of positions where elements differ (distance.go:25-32)

These compile to Catalyst ``aggregate``/``zip_with`` expressions — pure
JVM, no Python boundary, eligible for whole-stage codegen. Arithmetic is
performed in float64 (elements are cast from float32) so results are
bit-reproducible against external oracles; the reference computes in
float32, which only differs at ~1e-7 relative error, inside the
rtol=1e-5 tolerance recorded in FIXTURES.md.

At 100 TB scale these expressions run inside the scan/join stage with no
shuffle of their own and no per-row Python cost — this is why they are
Column expressions rather than UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "vector_indexable",
    "l2_squared",
    "dot",
    "inner_product_distance",
    "cosine_distance",
    "hamming",
    "distance_expr",
    "SPACES",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def vector_indexable(c: Column | str) -> Column:
    """The indexable-rows vector predicate (NULLSWEEP.md): a vector is
    indexable iff it is non-NULL and contains no NaN and no NULL
    component. One poisoned component makes every distance NaN — and
    the engines DISAGREE on NaN comparisons (DuckDB's columnar NaN
    compare even disagrees with its own constant folding), so a NaN
    vector must never reach a ranking. NULL components are excluded
    for the same reason (ADVICE r09): Spark's ``isnan(NULL)`` is false
    and DuckDB's ``list_filter`` drops NULL predicate results, so
    without the explicit check an element-NULL vector slips through
    BOTH SQL twins and then becomes NaN inside the numpy GEMM packers.
    SQL twin: ``v IS NOT NULL AND
    len(list_filter(v, x -> x IS NULL OR isnan(x))) = 0``."""
    v = _col(c)
    return v.isNotNull() & ~F.exists(
        v, lambda x: x.isNull() | F.isnan(x.cast("double"))
    )


def l2_squared(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance (no sqrt), matching distance.go:33-39."""
    a, b = _col(a), _col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product in float64."""
    a, b = _col(a), _col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def inner_product_distance(a: Column | str, b: Column | str) -> Column:
    """IP distance = -dot, matching the pure-Go indexes (distance.go:7-13).

    (hnswlib uses 1-dot, space_ip.h:17-18 — an inconsistency in the
    reference we deliberately do NOT replicate; see SURVEY.md §1.2.)
    """
    return -dot(a, b)


def norm(a: Column | str) -> Column:
    a = _col(a)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, a, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """1 - cosine similarity; returns 1.0 when either norm is 0
    (distance.go:14-24 zero-norm guard)."""
    a, b = _col(a), _col(b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - dot(a, b) / (na * nb)
    )


def hamming(a: Column | str, b: Column | str) -> Column:
    """Count of unequal positions (distance.go:25-32)."""
    a, b = _col(a), _col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x != y, F.lit(1.0)).otherwise(F.lit(0.0))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


SPACES = ("l2", "ip", "cos", "hamming")


def distance_expr(space: str, a: Column | str, b: Column | str) -> Column:
    """Dispatch by space name, mirroring index construction dispatch
    (internal/index/index_manager.go / const.go:3-8 space names)."""
    if space == "l2":
        return l2_squared(a, b)
    if space == "ip":
        return inner_product_distance(a, b)
    if space == "cos":
        return cosine_distance(a, b)
    if space == "hamming":
        return hamming(a, b)
    raise ValueError(f"unknown space: {space!r}; expected one of {SPACES}")
