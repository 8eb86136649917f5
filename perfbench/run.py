"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload diff_groups_write --seed 1 --seconds 25 --trace 0

The run generates the workload's inputs from ``--seed``, starts a local
Spark session, runs untimed warm-up passes, then times warmed passes
for ``--seconds`` seconds, checking every pass's output outside its
timed region.  With ``--trace 1`` it then restarts the Spark context
with the event log on, times traced passes for another ``--seconds``
and reports per-layer metrics instead of end-to-end ones; the span
tree and the per-layer JSON go to ``.perfbench/trace/`` at the root of
the checkout.  The library is imported from the checkout this file
sits in, never from anywhere else.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Driver JVM options.  A fixed, pre-touched heap (-Xms = -Xmx) does not
# resize with GC history, so GC frequency repeats from run to run, and its
# resident size is a constant 1 GB instead of depending on the order in
# which the GC first touched its regions.
# C1 only (TieredStopAtLevel=1): with C2 on, the JIT spent 33 s of CPU in
# the first dedup pass and 6-17 s in each of the next four, on 4 vCPUs
# shared with the 4 task threads, so the compiler, not the library, set
# the pass time; under C1 it spends about 1 s per pass after the first.
# C1 alone defaults to a 48 MB code cache (240 MB with C2), which filled
# up and stalled dedup passes in the code-cache sweeper, hence 256 MB.
HEAP = "1g"
JVM_OPTIONS = (f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
               " -XX:ReservedCodeCacheSize=256m")
GEN_REPEATS = 3  # input generation runs this often per run; setup_s takes the median

# Per-layer metrics every traced run reports (the BENCHMARK.json list).
# Phases are grouped into two roles every workload has, so no time reads
# a structural 0: ``calls`` are the lazy public calls, ``exec`` the
# phases that run Spark jobs (an eager call such as near_dup_clusters,
# the final action or write).  Python-worker and GC time, absent on some
# workloads, are reported as shares.  The per-phase metrics under the
# public calls' own names go to the trace file.
LAZY_PHASES = ("diff", "ngram_jaccard_pairs", "group_by_sorted", "apply_in_pandas",
               "write_partitioned_by")
EXEC_SUMS = ("s", "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_gap_s",
             "input_mb", "output_mb", "files")
LAYER_METRICS = {
    "calls.s": "s", "calls.jobs": "count",
    **{f"exec.{k}": ("s" if k == "s" or k.endswith("_s") else "MB" if k.endswith("_mb") else "count")
       for k in EXEC_SUMS if k != "gc_s"},
    "exec.first_execution_s": "s", "exec.gc_share": "ratio", "iterations": "count",
    "python.run_share": "ratio", "python.init_share": "ratio",
    "python.sent_mb": "MB", "python.recv_mb": "MB",
    "jvm_cpu_s": "s", "python_driver_cpu_s": "s", "python_worker_cpu_share": "ratio",
    "trace_overhead_s": "s",
}
E2E_UNITS = {"run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s", "ok_frac": "ratio"}


def role_metrics(phase_metrics: dict, p: dict) -> dict:
    """One traced pass's ``LAYER_METRICS`` from its per-phase metrics."""
    from perfbench.eventlog import PYTHON_METRICS

    def total(names, metric):
        return sum(phase_metrics.get(f"{n}.{metric}", 0.0) for n in names)

    names = [ph["name"] for ph in p["phases"]]
    calls = [n for n in names if n in LAZY_PHASES]
    execs = [n for n in names if n not in LAZY_PHASES]
    out = {"calls.s": total(calls, "s"), "calls.jobs": total(calls, "jobs")}
    out.update({f"exec.{k}": total(execs, k) for k in EXEC_SUMS})
    out["exec.first_execution_s"] = phase_metrics[f"{execs[0]}.first_execution_s"]
    run_s = out["exec.executor_run_s"]
    out["exec.gc_share"] = out.pop("exec.gc_s") / run_s
    py = {v: total(execs, v) for v in PYTHON_METRICS.values()}
    out["python.run_share"] = py["python.run_s"] / run_s
    out["python.init_share"] = py["python.init_s"] / run_s
    out["python.sent_mb"] = py["python.sent_mb"]
    out["python.recv_mb"] = py["python.recv_mb"]
    out["iterations"] = p["extra"].get("iterations", 0)
    out["jvm_cpu_s"] = p["cpu"]["jvm"]
    out["python_driver_cpu_s"] = p["driver_cpu"]
    out["python_worker_cpu_share"] = p["cpu"]["python_worker"] / sum(p["cpu"].values())
    return out


def build_session(work: str, nproc: int, event_log: str | None = None):
    """The fixed session config (see README.md for why each is set)."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", HEAP)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def one_pass(wl, pass_id: str, tree) -> dict:
    from perfbench.workloads import Pass

    p = Pass(wl.spark, pass_id)
    cpu0, start, t0 = tree.cpu(), time.time(), time.perf_counter()
    driver0 = time.process_time()  # the driver's CPU at ns resolution, not /proc ticks
    result, error = None, None
    try:
        result = wl.run(p)
    except Exception as e:  # a failed pass counts against ok_frac
        error = f"raised {type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    driver_cpu = time.process_time() - driver0
    end, cpu1 = time.time(), tree.cpu()
    if error is None:
        try:
            error = wl.check(result)
        except Exception as e:
            error = f"check raised {type(e).__name__}: {e}"
        finally:
            wl.release(result)
    if error:
        print(f"perfbench: pass {pass_id} failed: {error}", file=sys.stderr)
    return {
        "id": pass_id, "start": start, "end": end, "wall": wall,
        "cpu": {role: cpu1[role] - cpu0.get(role, 0.0) for role in cpu1},
        "driver_cpu": driver_cpu,
        "phases": p.phases, "extra": p.extra, "error": error,
    }


def run_passes(wl, prefix: str, tree, count: int = 0, seconds: float = 0.0) -> list:
    """``count`` passes, or as many as start within ``seconds``."""
    passes, t0 = [], time.perf_counter()
    while len(passes) < count or (seconds and (not passes or time.perf_counter() - t0 < seconds)):
        passes.append(one_pass(wl, f"{wl.name}-{prefix}{len(passes)}", tree))
    return passes


def stop_session(spark, tree) -> None:
    """Stop Spark, close the JVM and wait until every process it started
    has ended."""
    from pyspark import SparkContext

    others = [pid for role, pids in tree.pids().items() if role != "driver" for pid in pids]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:  # even when the stop fails, close the JVM
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    for pid in others:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def median_of(passes: list, key) -> float:
    return statistics.median(key(p) for p in passes)


def trace_layers(workload: str, seed: int, log_dir: str, traced: list, untraced: list) -> dict:
    """``LAYER_METRICS`` as medians over the traced passes.  Writes the span
    tree and the per-phase medians, keyed ``<workload>/<phase>.<metric>``,
    to ``.perfbench/trace/<workload>-seed<n>.json``."""
    from perfbench.eventlog import PYTHON_METRICS, EventLog, median_layers, pass_layers

    (path,) = glob.glob(os.path.join(log_dir, "*"))
    log = EventLog.read(path)
    per_phase, per_role, spans = [], [], []
    for p in traced:
        metrics, s = pass_layers(log, p)
        per_role.append(role_metrics(metrics, p))
        if "near_dup_clusters.s" in metrics:
            metrics["near_dup_clusters.iterations"] = p["extra"]["iterations"]
            metrics["near_dup_clusters.pairs_job_s"] = metrics["near_dup_clusters.first_execution_s"]
        for name in PYTHON_METRICS.values():  # summed over phases
            metrics[name] = sum(v for k, v in metrics.items() if k.endswith("." + name))
        metrics["jvm_cpu_s"] = p["cpu"]["jvm"]
        metrics["python_driver_cpu_s"] = p["driver_cpu"]
        metrics["python_worker_cpu_s"] = p["cpu"]["python_worker"]
        per_phase.append(metrics)
        spans += s
    overhead = median_of(traced, lambda p: p["wall"]) - median_of(untraced, lambda p: p["wall"])
    layers = {**median_layers(per_phase), "trace_overhead_s": overhead}
    roles = {**median_layers(per_role), "trace_overhead_s": overhead}
    out_dir = os.path.join(ROOT, ".perfbench", "trace")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump({
            "layers": {f"{workload}/{k}": v for k, v in sorted(layers.items())},
            "roles": roles,
            "passes": per_phase,
            "spans": spans,
            "unattributed_jobs": sorted(j["id"] for j in log.jobs.values()
                                        if "|" not in (j["group"] or "")),
        }, f, indent=1)
    return roles


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import spark_extension_spark
    except ImportError as e:
        print(f"perfbench: the library is not in this checkout ({e})", file=sys.stderr)
        return 2
    if not os.path.abspath(spark_extension_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: spark_extension_spark was imported from outside this checkout",
              file=sys.stderr)
        return 2

    from perfbench import gen, proctree
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # two glibc malloc arenas: with one arena per JVM thread, freed off-heap
    # (Arrow) buffers stayed resident, and 2 of 10 runs of the groups half peaked
    # 1.3 GB above the other 8
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # no JVM-wide performance-data file in the system's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    # on SIGTERM, still stop Spark and remove the inputs (see ``finally``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    tree = proctree.ProcTree()
    host_before = proctree.host_counters()
    spark = None
    try:
        with proctree.PeakRss(tree) as rss:
            gen_s = []
            for _ in range(GEN_REPEATS):
                t0 = time.perf_counter()
                tables, truth = gen.GENERATORS[args.workload](args.seed)
                inputs = gen.write_inputs(tables, os.path.join(work, "input"), files=2 * nproc)
                gen_s.append(time.perf_counter() - t0)
            del tables
            t0 = time.perf_counter()
            spark = build_session(work, nproc)
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, inputs, truth, work)
            t0 = time.perf_counter()
            warm = run_passes(wl, "warm", tree, count=wl.warmup_passes)
            warmup_s = time.perf_counter() - t0
            passes = run_passes(wl, "p", tree, seconds=args.seconds)
            traced = []
            if args.trace:
                log_dir = os.path.join(work, "eventlog")
                os.makedirs(log_dir)
                spark.stop()
                spark = build_session(work, nproc, event_log=log_dir)
                wl = WORKLOADS[args.workload](spark, inputs, truth, work)
                warm += run_passes(wl, "tracewarm", tree, count=1)
                traced = run_passes(wl, "t", tree, seconds=args.seconds)
            stop_session(spark, tree)
            spark = None
        attempted = passes + traced
        failed = sum(1 for p in attempted if p["error"])
        correct = not any(p["error"] for p in warm + attempted)
        if args.trace:
            layers = trace_layers(args.workload, args.seed, log_dir, traced, passes)
            metrics = {n: {"value": layers[n], "unit": u} for n, u in LAYER_METRICS.items()}
        else:
            values = {
                "run_s": median_of(passes, lambda p: p["wall"]),
                "cpu_s": median_of(passes, lambda p: sum(p["cpu"].values())),
                "peak_rss_mb": rss.peak_mb,
                "setup_s": statistics.median(gen_s) + session_s + warmup_s,
                "ok_frac": 1 - failed / len(attempted),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        host_after = proctree.host_counters()
        print(json.dumps({
            "diagnostics": {
                "passes": len(passes), "traced_passes": len(traced),
                "pass_walls": [round(p["wall"], 4) for p in passes],
                "gen_s": gen_s, "session_s": session_s, "warmup_s": warmup_s,
                "steal_jiffies": host_after["steal_jiffies"] - host_before["steal_jiffies"],
                "loadavg_1m": host_after["loadavg_1m"],
            }
        }))
        print(json.dumps({"correct": correct, "attempted": len(attempted), "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark, tree)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
