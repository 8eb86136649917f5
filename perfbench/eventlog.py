"""Parse a Spark event log into spans and per-layer metrics.

The log must be uncompressed and non-rolling (one JSON event per line).
Jobs are attributed to a pass and a phase through the job group
``<pass id>|<phase>`` that :class:`perfbench.workloads.Pass` sets around
each public call and action; stages and tasks follow the job group in
their own submission properties.

Span tree: pass -> phase (public call or action) -> Spark job -> stage.
A span's self time is its duration minus the part of its interval that
its children cover; a phase's self time is its ``driver_gap_s``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from typing import Dict, Iterable, List, Tuple

MB = 2**20

# SQL metrics of the Python runner (Spark 4.1), summed over tasks
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
# driver-side SQL metrics, posted per execution.  Scan bytes come from
# here: the task-level input bytes miss Parquet's vectored reads, which
# run on other threads than the task's
DRIVER_METRICS = {"number of written files": "files", "size of files read": "input_mb"}


def _scale(metric_type: str) -> float:
    """Factor from a SQL metric's raw value to seconds or MB."""
    return {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / MB}.get(metric_type, 1.0)


def _union_length(intervals: Iterable[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


class EventLog:
    """Jobs, stage attempts and task metrics of one application."""

    def __init__(self, lines: Iterable[str]) -> None:
        self.jobs: Dict[int, dict] = {}
        self.stages: Dict[Tuple[int, int], dict] = {}
        self.metric_types: Dict[int, Tuple[str, str]] = {}  # accumulator id -> (name, type)
        self.driver_updates: List[Tuple[int, int, float]] = []  # (execution, accum id, value)
        stage_group: Dict[Tuple[int, int], str] = {}
        tasks: List[dict] = []
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "execution": props.get("spark.sql.execution.id"),
                    "start": e["Submission Time"] / 1e3,
                    "end": e["Submission Time"] / 1e3,  # until its JobEnd
                    "stage_ids": list(e.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                self.stages[key] = {
                    "id": info["Stage ID"],
                    "attempt": info["Stage Attempt ID"],
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                    "tasks": [],
                }
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
            elif "sparkPlanInfo" in e:
                self._plan_metrics(e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    self.driver_updates.append((e["executionId"], acc_id, float(value)))
        for key, stage in self.stages.items():
            stage["group"] = stage_group.get(key)
        for t in tasks:
            stage = self.stages.get((t["Stage ID"], t["Stage Attempt ID"]))
            if stage is not None:
                stage["tasks"].append(t)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def _plan_metrics(self, plan: dict) -> None:
        stack = [plan]
        while stack:
            node = stack.pop()
            for m in node.get("metrics", []):
                self.metric_types[m["accumulatorId"]] = (m["name"], m["metricType"])
            stack.extend(node.get("children", []))

    def stage_metrics(self, stage: dict) -> Dict[str, float]:
        out: Dict[str, float] = defaultdict(float)
        for t in stage["tasks"]:
            m = t.get("Task Metrics") or {}
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            out["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            for acc in (t.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None and "Update" in acc:
                    mtype = self.metric_types.get(acc["ID"], ("", ""))[1]
                    out[key] += float(acc["Update"]) * _scale(mtype)
        out["tasks"] = len(stage["tasks"])
        return out


def pass_layers(log: EventLog, p: dict) -> Tuple[Dict[str, float], List[dict]]:
    """Per-phase metrics and spans of one pass.

    ``p`` is ``{"id", "start", "end", "phases": [{"name", "start", "end"}]}``
    with wall-clock seconds.  Returns ``({"<phase>.<metric>": value},
    spans)``; each span is ``{"id", "parent", "kind", "name", "start",
    "end", "self_s"}``.
    """
    metrics: Dict[str, float] = {}
    spans: List[dict] = []
    spans.append({"id": p["id"], "parent": None, "kind": "pass", "name": p["id"],
                  "start": p["start"], "end": p["end"]})
    driver = defaultdict(lambda: defaultdict(float))  # execution -> metric -> value
    for execution, acc_id, value in log.driver_updates:
        name, mtype = log.metric_types.get(acc_id, ("", ""))
        if name in DRIVER_METRICS:
            driver[str(execution)][DRIVER_METRICS[name]] += value * _scale(mtype)

    for ph in p["phases"]:
        name = ph["name"]
        group = f"{p['id']}|{name}"
        jobs = sorted((j for j in log.jobs.values() if j["group"] == group), key=lambda j: j["id"])
        stages = sorted((s for s in log.stages.values() if s["group"] == group),
                        key=lambda s: (s["id"], s["attempt"]))
        phase_id = f"{p['id']}/{name}"
        spans.append({"id": phase_id, "parent": p["id"], "kind": "phase", "name": name,
                      "start": ph["start"], "end": ph["end"]})
        if not jobs:  # a lazy call: only its wall time and its (zero) job count
            metrics[f"{name}.s"] = ph["end"] - ph["start"]
            metrics[f"{name}.jobs"] = 0
            continue
        agg: Dict[str, float] = defaultdict(float)
        for j in jobs:
            job_id = f"{phase_id}/job{j['id']}"
            spans.append({"id": job_id, "parent": phase_id, "kind": "job", "name": f"job {j['id']}",
                          "start": j["start"], "end": j["end"]})
        for s in stages:
            owner = min((j["id"] for j in jobs if s["id"] in j["stage_ids"]), default=None)
            parent = f"{phase_id}/job{owner}" if owner is not None else phase_id
            spans.append({"id": f"{phase_id}/stage{s['id']}.{s['attempt']}", "parent": parent,
                          "kind": "stage", "name": f"stage {s['id']}.{s['attempt']}",
                          "start": s["start"], "end": s["end"]})
            for k, v in log.stage_metrics(s).items():
                agg[k] += v
        agg["s"] = ph["end"] - ph["start"]
        agg["jobs"] = len(jobs)
        agg["stages"] = len(stages)
        agg["driver_gap_s"] = agg["s"] - _union_length(
            ((j["start"], j["end"]) for j in jobs), ph["start"], ph["end"])
        # AQE runs one SQL execution as several jobs (one per stage), so a
        # phase's first action is its first execution, not its first job
        executions = sorted({int(j["execution"]) for j in jobs if j["execution"] is not None})
        agg["first_execution_s"] = _union_length(
            ((j["start"], j["end"]) for j in jobs
             if executions and j["execution"] == str(executions[0])),
            ph["start"], ph["end"])
        for execution in executions:
            for k, v in driver[str(execution)].items():
                agg[k] += v
        for k, v in agg.items():
            metrics[f"{name}.{k}"] = v

    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append((s["start"], s["end"]))
    for s in spans:
        s["self_s"] = (s["end"] - s["start"]) - _union_length(by_parent[s["id"]], s["start"], s["end"])
    return metrics, spans


def median_layers(per_pass: List[Dict[str, float]]) -> Dict[str, float]:
    """Median of each metric over passes (a metric absent in a pass is 0)."""
    keys = sorted({k for m in per_pass for k in m})
    return {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
