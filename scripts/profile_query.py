"""Per-layer profile of registry gates, read from one Spark event log.

Usage: python scripts/profile_query.py query [query ...]
Env: SF (default: the bench's repacked sf0.1 copy in .bench_cache),
WARM (default: its sf0.001 copy), RUNS (default 3).

Each gate runs once at WARM (codegen warm-up), then RUNS times at SF
as a noop write, in a bench session (``bench.session``) that writes an
uncompressed, non-rolling event log.  In run ``r`` the job group
``<r>|build`` wraps the registry call (the jobs an eager operator runs
while it builds its frame) and ``<r>|exec`` wraps the write.  When all
gates have run, the session stops and ``perfbench.eventlog`` parses the
log.  One JSON line per gate gives the median over runs of each phase's
metrics: ``build.*`` and ``exec.*`` wall seconds, jobs, stages, tasks,
executor CPU and run time, shuffle and spill MB, driver gap.  A build
that runs no job reports only ``build.s`` and ``build.jobs`` (0).

Wall time moves with host load; job, stage and byte counts do not, so
use them to tell whether a change removed work.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import CPUS, session
from perfbench.eventlog import EventLog, median_layers, pass_layers
from perfbench.workloads import Pass
from spark_extension_spark.registry import QUERIES

SF = os.environ.get("SF", os.path.join(ROOT, ".bench_cache", "sf0.1"))
WARM = os.environ.get("WARM", os.path.join(ROOT, ".bench_cache", "sf0.001"))
RUNS = int(os.environ.get("RUNS", "3"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    names = sys.argv[1:]
    unknown = [n for n in names if n not in QUERIES]
    if not names or unknown:
        print(f"usage: python scripts/profile_query.py query [query ...]; unknown: {unknown}",
              file=sys.stderr)
        return 2
    log_dir = tempfile.mkdtemp(prefix="profile_query-")
    try:
        spark = session(CPUS, "profile_query", **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        runs = {}
        for name in names:
            fn = QUERIES[name]
            try:
                noop(fn(spark, WARM))
            except Exception:
                pass  # warm-up is best-effort, as in bench.py
            spark.catalog.clearCache()
            runs[name] = []
            for r in range(RUNS):
                p, start = Pass(spark, f"{name}#{r}"), time.time()
                with p.phase("build"):
                    df = fn(spark, SF)
                with p.phase("exec"):
                    noop(df)
                runs[name].append({"id": p.pass_id, "start": start, "end": time.time(),
                                   "phases": p.phases})
                spark.catalog.clearCache()
        spark.stop()  # closes the event log
        (path,) = glob.glob(os.path.join(log_dir, "*"))
        log = EventLog.read(path)
        for name, passes in runs.items():
            layers = median_layers([pass_layers(log, p)[0] for p in passes])
            print(json.dumps({"query": name, "runs": RUNS,
                              **{k: round(v, 4) for k, v in layers.items()}}), flush=True)
        return 0
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
