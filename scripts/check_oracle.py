"""Local mirror of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [--strict] [query ...]
       (no query = every query; with ``--strict``, the first 50 of
       ``__spark_entry__.queries()``, i.e. the rotated driver window)

``--strict`` compares floats bit-exactly (``repr``) instead of the
default 12-significant-figure normalization.  Calibration (round 5,
strict sweep vs CORRECTNESS_r04): the driver's hash tolerated diffs up
to ~2e-15 relative (engine ulp noise in ln/pow and float sum order) but
its exact bound is unknown, so the default tolerates ulp noise at 12
sig figs while still catching real drift (the pre-fix group_ols oracle
was 7e-10 off — invisible at the old 6-sig-fig default).  Run the
driver-window prefix under ``--strict`` before each round; everything
fixable to bit-exact should be (decimal sums + via-VARCHAR casts).

Reading a strict mismatch: one confined to the LAST 1-2 significant
digits of a double is an engine numeric delta (JVM ``Math.pow``/``log``
vs DuckDB's libm, BLAS vs sequential sums, DuckDB's DECIMAL cast), not
a formulation bug, and the driver's hash tolerates it.  The queries
known to land in that band, with the cause of each, are listed in
EXACTNESS.md "Residual ulp-band queries".  Treat anything bigger than
the final two digits, or a mismatch in a query not on that list, as a
real bug.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from bench import session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
# Cross-layout certification: point DuckDB's views at a DIFFERENT copy
# of the tables than Spark reads (e.g. Spark on the bench's repacked
# multi-row-group layout, DuckDB on the shipped single-row-group
# original).  Every value-oracled query must still match — gate values
# are layout-independent by the EXACTNESS discipline.  Queries whose
# output legitimately IS the layout (parquet footer metadata, file
# pruning/compaction plans, partitioned-write readback) are the
# documented exceptions; skip them when running cross-layout.
ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", SF_DIR)
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


STRICT = False


def normalize(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        if STRICT:
            return repr(val)
        if val == 0.0:
            # -0.0 == 0.0 but formats as '-0' — numerically equal
            # values must not produce a spurious mismatch in the
            # tolerance mode
            val = 0.0
        return f"{val:.12g}"
    if isinstance(val, (list, tuple)):
        return tuple(normalize(v) for v in val)
    if isinstance(val, dict):
        return tuple(sorted((k, normalize(v)) for k, v in val.items()))
    return str(val)


def canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(normalize(row[i]) for i in order) for row in rows]
    out.sort()
    return out


CHUNK = 40


def main() -> int:
    global STRICT
    argv = list(sys.argv[1:])
    if "--strict" in argv:
        STRICT = True
        argv.remove("--strict")
    only = set(argv)
    unknown = sorted(n for n in only if n not in entry.queries())
    if unknown:
        # a typo'd name must not silently certify a zero-check run —
        # fail fast, before any Spark JVM spins up
        print(f"UNKNOWN QUERY NAMES: {', '.join(unknown)}")
        return 2
    if not only:
        # A single long-lived local Spark JVM accumulates open file
        # handles across 130+ queries (shuffle/persist/parquet) and
        # eventually starves DuckDB of descriptors (hard ulimit 20000).
        # With no explicit query list, run the sweep in CHUNK-sized
        # subprocesses so each JVM stays well under the limit.
        import subprocess

        names = list(entry.queries())[: 50 if STRICT else None]
        rc = 0
        flag = ["--strict"] if STRICT else []
        for i in range(0, len(names), CHUNK):
            batch = names[i : i + CHUNK]
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), *flag, *batch]
            )
            rc = rc or r.returncode
        return rc
    # CHECK_CPUS / CHECK_PARTITIONS let a pre-round sweep run under an
    # odd layout (e.g. 7/13): a query whose floats depend on the
    # partial-aggregate fold order passes under one layout and fails
    # under another — the driver's session partitions differently than
    # this mirror, so layout-sensitivity IS a gate bug.
    cpus = os.environ.get("SPARK_GRAFT_CHECK_CPUS", "8")
    parts = os.environ.get("SPARK_GRAFT_CHECK_PARTITIONS", "8")
    spark = session(cpus, "check_oracle", memory="8g",
                    **{"spark.sql.shuffle.partitions": parts})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ORACLE_DIR}/{t}.parquet')"
        )

    queries, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, SF_DIR)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only check, {len(spark_rows)} rows")
            # internally-persisting operators must not accumulate
            # storage/descriptors across the chunk (same reason as the
            # end-of-loop clearCache)
            spark.catalog.clearCache()
            continue
        # The footer-metadata oracles pin the driver's t2 path
        # (/root/testdata/sf0.01) because oracle_sql() strings are
        # static and the driver always gates at sf0.01.  When this
        # mirror sweeps another SF, rewrite that literal so the oracle
        # reads the same files Spark does — otherwise the 4 footer
        # queries spuriously diff at sf0.1 (the former "mirror
        # limitation" in EXACTNESS.md).  Cross-layout runs substitute
        # ORACLE_DIR too; footer queries stay documented skips there
        # (their output IS the layout).
        # _T2 is the registry's own constant for the driver's gate SF
        # dir — importing it (rather than re-hardcoding the literal)
        # keeps this rewrite from silently becoming a no-op if the
        # testdata root ever moves.
        from spark_extension_spark.registry import _T2

        sql = oracles[name].replace(_T2, ORACLE_DIR)
        rel = con.execute(sql)
        duck_cols = [d[0] for d in rel.description]
        duck_rows = rel.fetchall()
        ok = True
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"{name}: COLUMN MISMATCH spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            ok = False
        elif len(spark_rows) != len(duck_rows):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(spark_rows)} duck={len(duck_rows)}")
            ok = False
        else:
            s = canon(spark_rows, spark_cols)
            d = canon(duck_rows, duck_cols)
            if s != d:
                diffs = [i for i, (a, b) in enumerate(zip(s, d)) if a != b][:3]
                print(f"{name}: VALUE MISMATCH ({len(spark_rows)} rows)")
                for i in diffs:
                    print(f"  spark: {s[i]}")
                    print(f"  duck : {d[i]}")
                ok = False
        if ok:
            print(f"{name}: OK ({len(spark_rows)} rows)")
        else:
            failures += 1
        spark.catalog.clearCache()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
