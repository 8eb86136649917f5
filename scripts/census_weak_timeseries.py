"""Weak-scaling census for the time-series join family.

Round-12 completion of the per-family 1x/3x/10x measurement program
(dedup r10, ANN r11, iterative r11/r12, fuzzy r12): the time-series
joins — ``asof_join`` (union + per-key window, `operators/asof.py`)
and ``interval_join`` (fixed-grid cell bucketing + first-overlapping-
cell dedup, `operators/timeseries.py`) — timed at K-fold replica
shards of the sf0.1 events table WITH the per-stage row/candidate
counts that prove the scaling story.

Weak scaling in the honest sense: each shard's ``user_id`` (and
``event_id``) is offset by ``shard * 10^9``, and BOTH operators key
their joins on ``user_id``, so cross-shard candidates are
structurally zero and every stage count must grow ~K-fold, never K².

Stage counts per operator:

* asof_join — left rows, right rows, output rows (the operator has no
  candidate stage at all: one union, one per-key window scan — the
  absence of a blowup stage IS the scale story; wall should track
  rows).
* interval_join — exploded grid cells per side, raw cell-join pairs,
  pairs surviving the first-overlapping-cell dedup + overlap predicate
  (the gate's 6 h-window clicks × views shape, grid = window width).

One process per scale (fresh JVM, bench confs, codegen warmup on a
small slice, min-of-2 timed noop-writes; counts are separate untimed
jobs).  Usage:  python scripts/census_weak_timeseries.py K
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from bench import session

SRC = os.environ.get("SRC", "/root/repo/.bench_cache/sf0.1/events.parquet")
BASE = os.environ.get("BASE", "/tmp/weakscale_events")
K = int(sys.argv[1])

shard_dir = os.path.join(BASE, f"x{K}")
path = os.path.join(shard_dir, "events.parquet")
if not os.path.exists(path):
    os.makedirs(shard_dir, exist_ok=True)
    duckdb.sql(
        f"""
        COPY (
          SELECT event_id + shard * 1000000000 AS event_id,
                 ts,
                 user_id + shard * 1000000000 AS user_id,
                 event_type, value, props
          FROM '{SRC}', range({K}) t(shard)
        ) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(100000 * K // 32, 10000)})
        """
    )

spark = session(32, f"census-weak-timeseries-x{K}")

from spark_extension_spark.operators.asof import asof_join  # noqa: E402
from spark_extension_spark.operators.timeseries import interval_join  # noqa: E402

W_US = 6 * 3600 * 1_000_000  # the gate's 6 h event window

events = spark.read.parquet(path)
# registry.load() reads ts as bigint micros; mirror it exactly,
# integer division included (the session is UTC, so the NTZ -> LTZ
# cast is the identity on the micros value)
base = events.select(
    "event_id",
    "user_id",
    F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("t"),
    "value",
    "event_type",
)
tiny = base.where(F.col("event_id") % 1000000000 < 2000)

out = {"k": K, "rows": events.count()}


def timed(build):
    build(tiny).write.format("noop").mode("overwrite").save()  # codegen warmup
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        build(base).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
    return runs


# --- asof_join (the gate shape: every 10th event is the reference) ---
def build_asof(ev):
    left = ev.select("event_id", "user_id", "t", "value")
    ref = ev.where(F.col("event_id") % 10 == 0).select(
        "user_id", "t", F.col("value").alias("ref_value")
    )
    return asof_join(left, ref, on="t", by="user_id", right_prefix="ref")


runs = timed(build_asof)
left_n = base.count()
ref_n = base.where(F.col("event_id") % 10 == 0).count()
out["asof_join"] = {
    "runs": runs,
    "min": min(runs),
    "stages": {
        "left_rows": left_n,
        "right_rows": ref_n,
        "output_rows": build_asof(base).count(),
    },
}


# --- interval_join (the gate shape: clicks x views, 6 h windows) ---
def clicks_views(ev):
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("t").alias("c_start"),
        (F.col("t") + W_US).alias("c_end"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("t").alias("v_start"),
        (F.col("t") + W_US).alias("v_end"),
    )
    return clicks, views


def build_interval(ev):
    clicks, views = clicks_views(ev)
    return interval_join(
        clicks, views, "c_start", "c_end", "v_start", "v_end",
        by=["user_id"], grid=W_US,
    )


runs = timed(build_interval)
clicks, views = clicks_views(base)
grid_l = F.lit(W_US).cast("long")


def cell_start(x):
    x = x.cast("long")
    return x - ((x % grid_l) + grid_l) % grid_l


def cells(df, start, end):
    first = cell_start(F.col(start))
    last = cell_start(F.col(end).cast("long") - 1)
    return df.where(F.col(start) < F.col(end)).withColumn(
        "__cell", F.explode(F.sequence(first, last, grid_l))
    )


lc = cells(clicks, "c_start", "c_end")
rc = cells(views, "v_start", "v_end")
raw = lc.join(rc, ["user_id", "__cell"])
out["interval_join"] = {
    "runs": runs,
    "min": min(runs),
    "stages": {
        "click_cells": lc.count(),
        "view_cells": rc.count(),
        "raw_cell_pairs": raw.count(),
        "output_pairs": build_interval(base).count(),
    },
}

# --- sessionize (the gate shape: 1 h gap, per-user windows) ---
# round-13 addition (VERDICT r12 #8): sessionize is the one remaining
# timeseries gate without census rows.  Keys are per-shard-offset
# user_ids, so sessions are structurally intra-shard and session
# counts must grow exactly K-fold; the per-key window partition size
# is shard-invariant (same events per user), so wall should track
# rows with NO skew growth — the thing this census exists to check.
from spark_extension_spark.operators.timeseries import session_summary  # noqa: E402

# the census axis `t` is epoch MILLIS (unix_micros div 1000) — use the
# gate's 1 h gap in the axis's own unit so sessions genuinely split
# (a µs-valued gap against the ms axis degenerates to 1 session/user)
GAP_MS = 3_600_000


def build_sessionize(ev):
    e = ev.select("user_id", "event_id", F.col("t").alias("ts_ms"))
    return session_summary(
        e, "ts_ms", gap=GAP_MS, by=["user_id"], tiebreak=["event_id"]
    )


runs = timed(build_sessionize)
sess = build_sessionize(base)
per_user = sess.groupBy("user_id").count()
mx = per_user.agg(F.max("count").alias("m"), F.expr("percentile(count, 0.5)").alias("med")).collect()[0]
out["sessionize"] = {
    "runs": runs,
    "min": min(runs),
    "stages": {
        "input_rows": left_n,
        "sessions": sess.count(),
        "max_sessions_per_user": int(mx["m"]),
        "median_sessions_per_user": float(mx["med"]),
    },
}

print(json.dumps(out), flush=True)
spark.stop()
