#!/usr/bin/env python3
"""Layer benchmark: one workload per run, as one JVM on a local[N] Spark
session driven by a single closed-loop client.

    python3 layerbench/run.py --workload daxos_pipeline|store_churn \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Builds the engine and the benchmark on first use (see build.py), runs the
workload, and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics. The line before it is the run
record (cores, -Xmx, Spark version, commit, seed, loadavg). --trace 1
reports the per-layer metrics instead of the end-to-end ones, writes the
spans to .bench_build/traces/, and compares its end-to-end numbers with
the untraced runs recorded in .bench_build/results/ (the tracing overhead). Exits nonzero, without a result line,
when the build or the run fails; exits 1 after the result line when a
correctness check failed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("daxos_pipeline", "store_churn")
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# a fixed, pre-touched heap keeps peak RSS from following the collector's
# resizing, so it moves only with native memory
HEAP = "2g"


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def untraced_medians(path):
    """Per-metric medians of the untraced runs recorded at `path`."""
    try:
        with open(path) as f:
            runs = [json.loads(ln)["metrics"] for ln in f if ln.strip()]
    except (OSError, ValueError, KeyError):
        return {}, 0
    names = {k for r in runs for k in r}
    return ({k: statistics.median(r[k] for r in runs if k in r)
             for k in sorted(names)}, len(runs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    out = os.path.join(ROOT, ".bench_build")
    classes, sha, jars = build.build(out)
    results = os.path.join(out, "results", f"{a.workload}-{a.scale}.jsonl")
    baseline, n_base = untraced_medians(results) if a.trace == "1" else ({}, 0)
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(out, "work", run_id)
    for d in ("tmp", "spark-local", "fixtures"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(min(4, os.cpu_count() or 1))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               GRAFT_FIXTURE_DIR=os.path.join(work, "fixtures"),
               GRAFTBENCH_GIT_COMMIT=git_commit(), GRAFTBENCH_SOURCE_SHA=sha)
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Xss4m", "-XX:-UsePerfData"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}",
            "-cp", f"{classes}:{os.path.join(jars, '*')}",
            "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--scale", a.scale,
            "--run-id", run_id, "--trace-dir", os.path.join(out, "traces"),
            "--baseline", ",".join(f"{k}={v!r}" for k, v in baseline.items()),
            "--baseline-runs", str(n_base)])
    log_path = os.path.join(out, "logs", f"{a.workload}-{run_id}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             stderr=log, text=True, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(3)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"layerbench: run exceeded {TIMEOUT_S} s\n")
            stop()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(f"layerbench: no result (exit {p.returncode}); "
                         f"log: {log_path}\n")
        sys.exit(p.returncode or 4)
    if a.trace == "0" and p.returncode == 0:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "a") as f:
            f.write(json.dumps({"seed": a.seed, "metrics": {
                k: m["value"] for k, m in result["metrics"].items()}}) + "\n")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
