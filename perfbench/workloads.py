"""The two workloads: one timed pass each, plus its output check.

A pass calls the library's public API only.  Each public call and the
final action run inside :meth:`Pass.phase`, which sets the Spark job
group to ``<pass id>|<phase>`` and records the phase's wall-clock span;
the traced run uses both to attribute Spark jobs to calls.  Checks run
after the pass, outside its timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

import duckdb
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

import spark_extension_spark as sx

from . import gen


class Pass:
    """Span and job-group bookkeeping for one pass."""

    def __init__(self, spark: SparkSession, pass_id: str) -> None:
        self.sc = spark.sparkContext
        self.pass_id = pass_id
        self.phases: List[dict] = []
        self.extra: Dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        self.sc.setJobGroup(f"{self.pass_id}|{name}", name)
        start = time.time()
        try:
            yield
        finally:
            self.phases.append({"name": name, "start": start, "end": time.time()})
            self.sc.setJobGroup(self.pass_id, "between phases")


class Workload:
    """One workload: ``run`` per pass (timed), then ``check`` and
    ``release`` per pass (untimed).  The input DataFrames are created
    once per session, so a pass does not time Spark's file listing."""

    name = ""
    warmup_passes = 2

    def __init__(self, spark: SparkSession, inputs: Dict[str, str], truth: dict, work: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.truth = truth
        self.work = work
        self.frames = {name: spark.read.parquet(path) for name, path in inputs.items()}

    def run(self, p: Pass):
        raise NotImplementedError

    def check(self, result) -> Optional[str]:
        """``None`` when the output is correct, else what is wrong."""
        raise NotImplementedError

    def release(self, result) -> None:
        pass


# -- diff_groups_write: the diff half ----------------------------------------


def diff_pass(p: Pass, left, right) -> dict:
    """``diff(left, right, "id")``, then a ``noop`` write of the whole
    diff that observes count, id sum and id-hash xor per diff type."""
    with p.phase("diff"):
        out = sx.diff(left, right, "id")
    obs = Observation()
    hashed = (F.col("id") * F.lit(gen.HASH_MUL)).bitwiseAND(F.lit(0xFFFFFFFF))
    aggs = []
    for t in "ICDN":
        is_t = F.col("diff") == t
        aggs += [
            F.count(F.when(is_t, 1)).alias(f"{t}_n"),
            F.coalesce(F.sum(F.when(is_t, F.col("id"))), F.lit(0)).alias(f"{t}_sum"),
            F.coalesce(F.bit_xor(F.when(is_t, hashed)), F.lit(0)).alias(f"{t}_xor"),
        ]
    with p.phase("action"):
        out.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def check_diff(observed: dict, truth: dict) -> Optional[str]:
    for t, expected in truth.items():
        got = (observed[f"{t}_n"], observed[f"{t}_sum"], observed[f"{t}_xor"])
        if tuple(got) != tuple(expected):
            return f"diff type {t}: (count, id sum, id xor) {got} != planted {tuple(expected)}"
    return None


# -- dedup_iterative --------------------------------------------------------


class DedupIterative(Workload):
    name = "dedup_iterative"
    warmup_passes = 1

    def run(self, p: Pass) -> dict:
        handle = sx.UnpersistHandle()
        with p.phase("ngram_jaccard_pairs"):
            pairs = sx.ngram_jaccard_pairs(
                self.frames["docs"], n=gen.SHINGLE_N, threshold=gen.JACCARD_THRESHOLD, unpersist_handle=handle
            )
        sx.cc_stats_log(clear=True)
        with p.phase("near_dup_clusters"):
            clusters = sx.near_dup_clusters(pairs, unpersist_handle=handle)
        p.extra["iterations"] = sum(e["iterations"] for e in sx.cc_stats_log(clear=True))
        with p.phase("action"):
            kept = clusters.where(F.col("doc_id") == F.col("cluster_id")).count()
        return {"kept": kept, "clusters": clusters, "handle": handle}

    def check(self, result: dict) -> Optional[str]:
        rows = result["clusters"].collect()
        return check_dedup(result["kept"], [(r.doc_id, r.cluster_id) for r in rows], self.truth)

    def release(self, result: dict) -> None:
        result["handle"](blocking=True)


def check_dedup(kept: int, assignment: List[tuple], truth: dict) -> Optional[str]:
    groups: Dict[int, List[int]] = {}
    for doc_id, cluster_id in assignment:
        groups.setdefault(cluster_id, []).append(doc_id)
    got = sorted(sorted(g) for g in groups.values())
    if got != truth["groups"]:
        return f"{len(got)} clusters do not match the {len(truth['groups'])} planted groups"
    if kept != len(truth["groups"]):
        return f"kept {kept} representatives, planted {len(truth['groups'])} groups"
    if any(min(g) != c for c, g in groups.items()):
        return "a cluster id is not its cluster's smallest doc id"
    return None


# -- diff_groups_write: the groups half --------------------------------------


def running_total(key, pdf):
    return pdf.assign(total=pdf["value"].cumsum())


SCHEMA = "key long, ts_us long, day date, value long, total long"


def groups_pass(p: Pass, events, out: str) -> None:
    """Pandas running totals over sorted groups, written partitioned by
    day and sorted within each file."""
    with p.phase("group_by_sorted"):
        grouped = sx.group_by_sorted(events, "key", "ts_us")
    with p.phase("apply_in_pandas"):
        totals = grouped.apply_in_pandas(running_total, SCHEMA)
    with p.phase("write_partitioned_by"):
        writer = sx.write_partitioned_by(totals, ["day"], more_file_order=["key", "ts_us"])
    with p.phase("write"):
        writer.parquet(out)


def check_groups(events_dir: str, out_dir: str) -> Optional[str]:
    """Running totals read back with DuckDB against a DuckDB window sum
    over the generated input; rows must match as multisets."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        expected = f"""
            SELECT key, ts_us, day, value,
                   sum(value) OVER (PARTITION BY key ORDER BY ts_us
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total
            FROM read_parquet('{events_dir}/*.parquet')"""
        got = f"""
            SELECT key, ts_us, day, value, total
            FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"""
        missing, extra = con.execute(
            f"SELECT (SELECT count(*) FROM ({expected} EXCEPT ALL {got})),"
            f"       (SELECT count(*) FROM ({got} EXCEPT ALL {expected}))"
        ).fetchone()
    finally:
        con.close()
    if missing or extra:
        return f"{missing} expected rows missing, {extra} unexpected rows written"
    return None


class DiffGroupsWrite(Workload):
    """The diff half, then the groups half, in every pass.  Each half
    is checked against its own planted truth."""

    name = "diff_groups_write"
    warmup_passes = 4

    def run(self, p: Pass) -> tuple:
        observed = diff_pass(p, self.frames["left"], self.frames["right"])
        out = os.path.join(self.work, f"out-{p.pass_id}")
        groups_pass(p, self.frames["events"], out)
        return observed, out

    def check(self, result: tuple) -> Optional[str]:
        observed, out = result
        return check_diff(observed, self.truth["diff"]) or check_groups(self.inputs["events"], out)

    def release(self, result: tuple) -> None:
        shutil.rmtree(result[1], ignore_errors=True)


WORKLOADS: Dict[str, Callable[..., Workload]] = {
    w.name: w for w in (DiffGroupsWrite, DedupIterative)
}
