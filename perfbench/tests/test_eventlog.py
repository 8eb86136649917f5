"""Event-log parser on a small log produced by a local Spark session."""

import glob
import json
import os
import time

import pytest

from perfbench import eventlog
from perfbench.eventlog import EventLog, pass_layers


def test_union_length_clips_and_merges():
    assert eventlog._union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog._union_length([(-1, 2), (8, 12)], 0, 10) == 4
    assert eventlog._union_length([], 0, 10) == 0


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import functions as F

    from perfbench.run import build_session, stop_session
    from perfbench.proctree import ProcTree
    from perfbench.workloads import Pass

    work = str(tmp_path_factory.mktemp("work"))
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs)
    spark = build_session(work, 2, event_log=logs)

    def identity(batches):  # nested, so the worker unpickles it by value
        yield from batches

    try:
        p = Pass(spark, "t0")
        start = time.time()
        with p.phase("diff"):  # a lazy call's phase name
            df = spark.range(20_000).withColumn("k", F.col("id") % 7)
        with p.phase("action"):
            df.groupBy("k").count().collect()
            time.sleep(0.3)  # a driver gap between the two jobs
            df.mapInPandas(identity, df.schema).count()
        spark.sparkContext.setJobGroup("outside", "no phase")
        spark.range(10).count()
        end = time.time()
    finally:
        stop_session(spark, ProcTree())
    (path,) = glob.glob(os.path.join(logs, "*"))
    with open(path) as f:
        assert all(json.loads(line)["Event"] for line in f)  # plain JSON lines
    cpu = {"driver": 0.1, "jvm": 2.0, "python_worker": 0.5}
    return EventLog.read(path), {"id": "t0", "start": start, "end": end, "phases": p.phases,
                                 "extra": {}, "cpu": cpu, "driver_cpu": 0.1}


def test_jobs_are_attributed_to_their_phase(traced):
    log, p = traced
    metrics, _ = pass_layers(log, p)
    assert metrics["diff.jobs"] == 0
    assert metrics["action.jobs"] >= 2
    assert metrics["action.stages"] >= 2
    assert metrics["action.tasks"] >= metrics["action.stages"]
    assert metrics["action.executor_cpu_s"] > 0
    assert metrics["action.executor_run_s"] > 0
    assert metrics["action.shuffle_write_mb"] > 0
    assert metrics["action.shuffle_read_mb"] > 0
    assert metrics["action.python.run_s"] > 0
    assert metrics["action.python.sent_mb"] > 0
    assert metrics["action.python.recv_mb"] > 0
    assert 0.3 <= metrics["action.driver_gap_s"] <= metrics["action.s"]
    # jobs outside every phase are not counted in any phase
    outside = [j for j in log.jobs.values() if j["group"] == "outside"]
    assert outside and len(log.jobs) == metrics["action.jobs"] + len(outside)


def test_span_tree_and_self_time(traced):
    log, p = traced
    metrics, spans = pass_layers(log, p)
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert [r["kind"] for r in roots] == ["pass"]
    kinds = {"phase": "pass", "job": "phase", "stage": "job"}
    for s in spans:
        if s["parent"] is not None:
            assert by_id[s["parent"]]["kind"] == kinds[s["kind"]]
        assert s["self_s"] >= -1e-9
    action = by_id["t0/action"]
    assert action["self_s"] == pytest.approx(metrics["action.driver_gap_s"])
    assert sum(s["kind"] == "job" for s in spans) == metrics["action.jobs"]


def test_role_metrics_cover_the_benchmark_list(traced):
    from perfbench.run import LAYER_METRICS, role_metrics

    log, p = traced
    metrics, _ = pass_layers(log, p)
    roles = role_metrics(metrics, p)
    assert set(roles) | {"trace_overhead_s"} == set(LAYER_METRICS)
    assert roles["calls.s"] == metrics["diff.s"] and roles["calls.jobs"] == 0
    assert roles["exec.jobs"] == metrics["action.jobs"]
    assert roles["exec.driver_gap_s"] == metrics["action.driver_gap_s"]
    assert 0 < roles["python.run_share"] < 1
    assert roles["python_worker_cpu_share"] == pytest.approx(0.5 / 2.6)
