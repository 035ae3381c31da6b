"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count, schema (column names), and order-insensitive values.

Usage: python scripts/check_oracle.py [--vanilla] [sf_dir] [query_name ...]

--vanilla runs the Spark side on a bare default-config SparkSession
(the external gate's session shape) instead of the repo's tuned
get_spark() — see the flag's comment in main().
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# --- type discipline (round-8, VERDICT r07 #2) -----------------------
# The driver's hash canonicalization is type-sensitive to int128:
# DuckDB widens sum(BIGINT) to HUGEINT and DECIMAL(38)//x to
# HUGEINT/DECIMAL, and a HUGEINT oracle column hash-mismatches a
# numerically-identical Spark bigint (10 driver-red rows in r07).
# duckdb's Python client hands HUGEINT back as plain int, so a
# value-only replica is blind to the class. After the value compare we
# therefore DESCRIBE the oracle and diff against sdf.dtypes:
#   FAIL — any HUGEINT/DECIMAL oracle column (the lethal class), or a
#          cross-family mismatch (int vs double vs string ...).
#   WARN — intra-family width drift (INTEGER vs BIGINT) and
#          TIMESTAMP vs TIMESTAMP_NTZ, which CORRECTNESS_r02..r07
#          show the driver tolerates (green entries carry both).

_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "bigint": "int", "ubigint": "int", "uinteger": "int",
    "usmallint": "int", "utinyint": "int",
    "hugeint": "int128", "uhugeint": "int128",
    "float": "float", "real": "float", "double": "float",
    "varchar": "string", "string": "string", "text": "string",
    "boolean": "bool", "bool": "bool",
    "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts",
    "timestamp with time zone": "ts", "timestamptz": "ts",
    "blob": "binary", "binary": "binary",
}


def _norm_type(t: str) -> str:
    """Lower-case a DuckDB DESCRIBE / Spark dtypes type string into a
    canonical token, preserving list/struct shape."""
    t = t.strip().lower()
    if t.endswith("[]"):  # duckdb list
        return f"array<{_norm_type(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{_norm_type(t[6:-1])}>"
    if t.startswith("decimal"):
        return "decimal"
    # engine-synonym collapse (identical types, different names):
    return {"varchar": "string", "text": "string", "integer": "int",
            "real": "float", "bool": "boolean", "blob": "binary"}.get(t, t)


def _family(t: str) -> str:
    """Collapse a normalized type to its comparison family."""
    if t.startswith("array<"):
        return f"array<{_family(t[6:-1])}>"
    if t.startswith(("struct", "map")):
        return t  # compared verbatim
    return _FAMILY.get(t, t)


def type_diff(scols, sdtypes, dcols, ddtypes):
    """Return (fatal, warns): lists of 'col: spark vs duck' strings."""
    fatal, warns = [], []
    duck = {c: _norm_type(t) for c, t in zip(dcols, ddtypes)}
    for c, st in sdtypes:
        if c not in duck:
            continue
        s, d = _norm_type(st), duck[c]
        if "int128" in _family(d) or "decimal" in d:
            fatal.append(f"{c}: spark={s} duck={d} (HUGEINT/DECIMAL)")
        elif _family(s) != _family(d):
            fatal.append(f"{c}: spark={s} duck={d} (family mismatch)")
        elif s != d:
            warns.append(f"{c}: spark={s} duck={d}")
    return fatal, warns


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact match required
    return repr(v)


def rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    argv = list(sys.argv[1:])
    # --vanilla: run the Spark side on a BARE SparkSession (default
    # configs, like the driver's harness) instead of the repo's tuned
    # get_spark(). The driver's gate session is vanilla, so a query
    # that silently depends on session.py configs (shuffle partitions,
    # Arrow, broadcast threshold, nanosAsLong retry path, UTC tz)
    # passes the tuned replica yet fails the real gate — this flag is
    # how we see what the driver sees (verify-skill gotcha #1).
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    # --window: shorthand for the driver's gate scope — the FIRST 50
    # registry entries (saves typing 50 names each staging re-check)
    window = "--window" in argv
    if window:
        argv.remove("--window")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    # generated oracles (pca_knn derives its quantized model from the
    # gate fixture) must target the same sf as this run
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # a typo'd entry name must NOT read as green (VERDICT r09 wrong #2:
    # the `only` filter previously just never matched and the sweep
    # exited 0 with zero output); checked before the Spark session so
    # the failure is immediate
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown entry name(s): {', '.join(sorted(unknown))}")
        sys.exit(2)
    if window:
        only |= set(list(qs)[:50])

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName(
            "check_oracle_vanilla"
        ).getOrCreate()
    else:
        from oasisdb_spark.session import get_spark

        spark = get_spark("check_oracle")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-entry error capture, like the driver's "err" row field —
        # an adversarial fixture (the NULL tier) can make an entry
        # raise by DESIGN (e.g. NULL-vector ingest rejection), and one
        # such entry must not abort the rest of the sweep
        try:
            # previous entry's tracked checkpoint/persist blocks are
            # dead once its rows are collected — release BEFORE
            # building the next frame (ckpt lifecycle, r13 guide §5)
            from oasisdb_spark.ckpt import release_tracked

            release_tracked()
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures += 1
            msg = str(exc).splitlines()[0][:140]
            print(f"{name:35s} ERROR(spark)  {type(exc).__name__}: {msg}")
            continue
        if name not in oracles:
            print(f"{name:35s} rows-only: {len(srows)} rows (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
        except Exception as exc:
            failures += 1
            msg = str(exc).splitlines()[0][:140]
            print(f"{name:35s} ERROR(duckdb)  {type(exc).__name__}: {msg}")
            continue
        fatal, warns = type_diff(
            scols, sdf.dtypes, [r[0] for r in desc], [r[1] for r in desc]
        )
        ok_schema = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = ok_schema and ok_count and rowset(srows, scols) == rowset(drows, dcols)
        ok_types = not fatal
        status = "OK" if (ok_schema and ok_count and ok_vals and ok_types) else "FAIL"
        print(f"{name:35s} {status}  rows {len(srows)}/{len(drows)} schema={ok_schema} values={ok_vals} types={ok_types}")
        for w in warns:
            print(f"    type-warn  {w}")
        for f_ in fatal:
            print(f"    TYPE-FATAL {f_}")
        if status == "FAIL":
            failures += 1
            if fatal and ok_schema and ok_count and ok_vals:
                pass  # type-only failure; already printed above
            if not ok_schema:
                print(f"    spark cols: {scols}\n    duck  cols: {dcols}")
            elif ok_count:
                a, b = rowset(srows, scols), rowset(drows, dcols)
                diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
                for i in diff:
                    print(f"    spark: {a[i]}\n    duck : {b[i]}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
