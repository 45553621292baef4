#!/usr/bin/env python3
"""Smoke test of the layer benchmark at tiny scale.

Runs each workload with --scale tiny (500 documents and 500 embeddings,
a Sim fixture of n=400 x p=8) on the default seed and one hold-out seed,
untraced, plus one traced run per workload. Asserts that every run
passes its correctness checks, that each untraced run prints every
end-to-end metric with the unit BENCHMARK.json declares and a value
above 0, and that each traced run prints every per-layer metric with its
unit.
Last, it checks that the benchmark refuses to run, without a result
line, in a directory holding only BENCHMARK.json and layerbench/.

    python3 layerbench/smoke.py
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = (1, 7)  # the default seed and a hold-out seed
WORKLOADS = ("daxos_pipeline", "store_churn")


def run(workload, seed, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "layerbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check_result(tag, rc, lines, expected, positive):
    assert rc == 0, f"{tag}: exit {rc}"
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, tag
    assert res["correct"] is True and res["failed"] == 0, \
        f"{tag}: checks failed: {lines[-2][:2000]}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, tag
    got = res["metrics"]
    missing = [n for n in expected if n not in got]
    assert not missing, f"{tag}: missing metrics {missing}"
    for name, unit in expected.items():
        m = got[name]
        assert m["unit"] == unit, f"{tag}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), \
            f"{tag}: {name} = {m['value']!r}"
        assert not positive or m["value"] > 0, f"{tag}: {name} = {m['value']!r}"
    record = json.loads(lines[-2])["run_record"]
    assert record["ops_attempted"] == res["attempted"] and record["ops_failed"] == 0
    return res


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    for workload in WORKLOADS:
        for seed in SEEDS:
            rc, lines, err = run(workload, seed, 0)
            if rc != 0:
                sys.stderr.write(err[-3000:])
            res = check_result(f"{workload} seed {seed}", rc, lines, units, True)
            assert set(res["metrics"]) == set(units), \
                f"{workload} seed {seed}: metrics differ from BENCHMARK.json end_to_end"
            print(f"ok  {workload} seed {seed} untraced", flush=True)
        rc, lines, err = run(workload, SEEDS[0], 1)
        if rc != 0:
            sys.stderr.write(err[-3000:])
        res = check_result(f"{workload} traced", rc, lines, per_layer, False)
        assert set(res["metrics"]) == set(per_layer), \
            f"{workload} traced: metrics differ from BENCHMARK.json per_layer"
        assert len(per_layer) <= 128
        assert any(ln.startswith("tracing overhead:") for ln in lines), \
            f"{workload} traced: no tracing-overhead line"
        print(f"ok  {workload} traced ({len(per_layer)} per-layer metrics)",
              flush=True)

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "layerbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines, _ = run("store_churn", SEEDS[0], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not any(ln.startswith('{"correct"') for ln in lines), \
        "the benchmark must refuse to run without the engine sources"
    print("ok  refuses to run without the engine sources")


if __name__ == "__main__":
    main()
