"""Dump `.explain("formatted")` for a list of registry queries to files.

Usage:
    python scripts/dump_plans.py OUTDIR SUFFIX query [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query, containing the
formatted physical plan of the DataFrame the registry builds (the same
frame the bench times).  Runs on the bench data dir ($SPARK_GRAFT_SF_DIR,
default /root/testdata/sf0.1) with the same session shape as bench.py so
the plans match what the driver measures.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, SF_DIR, session


def main() -> int:
    if len(sys.argv) < 4:
        print(
            "usage: python scripts/dump_plans.py OUTDIR SUFFIX query [query ...]",
            file=sys.stderr,
        )
        return 2
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    spark = session(CPUS, "dump_plans", memory="16g")
    from spark_extension_spark.registry import QUERIES

    import contextlib
    import io

    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        # public API: explain(mode=...) prints; capture its stdout
        # (the former PythonSQLUtils/_jdf route relied on PySpark
        # internals that can move across versions)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
