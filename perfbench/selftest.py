#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

Usage (from the repository root): python3 perfbench/selftest.py

For every workload in BENCHMARK.json, untraced and traced, checks that the
result line has exactly the contract's keys, that the run is correct, and
that every end-to-end (untraced) or per-layer (traced) metric is emitted
with its unit as a finite number. Then runs `loops` with every expected
DuckDB-twin hash corrupted and checks that each query's output check
turns red. Exits non-zero on the first problem.
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                sys.exit(f"FAIL {where}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                sys.exit(f"FAIL {where}: correct={res['correct']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in spec[group]}
            if set(res["metrics"]) != set(want):
                sys.exit(f"FAIL {where}: metrics differ: {sorted(set(res['metrics']) ^ set(want))}")
            for name, v in res["metrics"].items():
                if v.get("unit") != want[name] or not isinstance(v.get("value"), (int, float)) \
                        or not math.isfinite(v["value"]):
                    sys.exit(f"FAIL {where}: {name} = {v}")
            print(f"ok   {where}: {len(want)} metrics, {res['attempted']} ops checked")
    res = run("loops", 0, "--corrupt-expected")
    queries = len(json.load(open(os.path.join(ROOT, "perfbench", "workloads.json")))["tiny"]["loops"]["queries"])
    if res["correct"] or res["failed"] < queries:
        sys.exit(f"FAIL corrupted expected hashes were not caught: {res}")
    print(f"ok   loops with corrupted expected hashes: {res['failed']} checks red")


if __name__ == "__main__":
    main()
