"""Run the benchmark over several seeds and summarise its steadiness.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out record.json]

Each (workload, seed) is one ``run.py`` process, run one after another
with the ``run_seconds`` of ``BENCHMARK.json``.  For every end-to-end
metric it prints the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread ``(q3 - q1) / median`` next to the metric's bound.  The
``/proc/stat`` steal and load average each run reports are kept in the
record as diagnostics only; no run is dropped, repeated or picked on
them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(spec: str) -> list:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    diagnostics = next((json.loads(l)["diagnostics"] for l in lines[:-1]
                        if l.startswith('{"diagnostics"')), {})
    return {"seed": seed, "process_s": wall, "result": result, "diagnostics": diagnostics}


def summarise(values: list) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / median if median else float("nan"), "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seed_list(args.seeds):
            r = run_once(bench, w, seed)
            d = r["diagnostics"]
            print(f"{w} seed {seed}: {r['process_s']:.1f} s, correct={r['result']['correct']}, "
                  f"passes={d.get('passes')}, steal={d.get('steal_jiffies')}, "
                  f"load={d.get('loadavg_1m')}", file=sys.stderr, flush=True)
            runs.append(r)
        summary = {}
        for m in bench["end_to_end"]:
            values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            summary[m["name"]] = {**summarise(values), "unit": m["unit"], "bound": m["bound"]}
        record["workloads"][w] = {
            "metrics": summary,
            "correct": all(r["result"]["correct"] for r in runs),
            "runs": runs,
        }
        print(f"== {w}: all outputs correct: {record['workloads'][w]['correct']}")
        for name, s in summary.items():
            print(f"  {name:12s} {s['median']:12.4f} {s['unit']:6s} q1 {s['q1']:.4f} "
                  f"q3 {s['q3']:.4f} spread {s['spread']:.3f}  bound {s['bound']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
