#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs one workload once per seed (untraced) and prints, per end-to-end
metric, the median over the seeds and the spread: the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of
the median, next to the metric's bound from BENCHMARK.json. A spread
above a third of its bound is flagged; setup_s is reported but has no
spread limit.

    python3 layerbench/spread.py --workload store_churn --seeds 1,2,3,4,5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"seed {seed}: correctness checks failed: {lines[-2][:2000]}")
    return {k: m["value"] for k, m in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds of BENCHMARK.json")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    runs = []
    for s in a.seeds.split(","):
        runs.append(run_once(a.workload, int(s), seconds))
        print(f"seed {s}: " + ", ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()),
              flush=True)
    print(f"\n{'metric':24} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]:
        vals = [r[name] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / q2
        flag = "" if name == "setup_s" or spread < bounds[name] / 3 else "  <-- wide"
        print(f"{name:24} {q2:12.4f} {spread:8.3f} {bounds[name]:6.2f}{flag}")


if __name__ == "__main__":
    main()
