#!/usr/bin/env python3
"""Steadiness of the benchmark on one commit.

    python3 perfbench/steady.py [--workload NAME ...] [--runs 10] [--sets 2] [--seed 1]

Runs each workload `--runs` times per set, each run with its own seed, for
`--sets` sets (set k uses seeds seed + 1000*k + i). For every end-to-end
metric it prints each set's median and quartiles (Python's
statistics.quantiles, n=4), the spread (q3 - q1) / median, and how far the
last set's median moved from the first's in the metric's worse direction,
both against the metric's bound in BENCHMARK.json. `setup_s` has no spread
rule. A metric is flagged when its spread exceeds its bound or its median
worsens by more than its bound; the exit code is 1 if any is flagged or any
run failed. Each run's result line is kept in .bench_build/perfbench/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, wall, p.stdout
    return json.loads(lines[-1]), wall, p.stdout


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    log_path = os.path.join(ROOT, ".bench_build", "perfbench", "steady.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    bad = False
    with open(log_path, "a") as log:
        for w in workloads:
            sets = []
            for k in range(a.sets):
                results = []
                for i in range(a.runs):
                    seed = a.seed + 1000 * k + i
                    res, wall, out = run_once(w, seed, spec["run_seconds"])
                    log.write(json.dumps({"workload": w, "set": k, "seed": seed, "wall_s": wall,
                                          "result": res, "notes": out.splitlines()[:-1]}) + "\n")
                    log.flush()
                    if res is None or not res["correct"]:
                        bad = True
                        print(f"{w} seed {seed}: run failed or incorrect\n{out[-2000:]}")
                    if res is not None:
                        results.append(res)
                    print(f"{w} set {k} seed {seed}: {wall:.1f} s", file=sys.stderr, flush=True)
                sets.append(results)
            shares = [sum(r["failed"] for r in s) / max(1, sum(r["attempted"] for r in s))
                      for s in sets]
            print(f"\n== {w}: failed share per set {shares}")
            print(f"{'metric':<18} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} "
                  f"{'spread':>7} {'worse':>7} {'bound':>6}")
            for m in spec["end_to_end"]:
                name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
                med0 = None
                for k, s in enumerate(sets):
                    vals = [r["metrics"][name]["value"] for r in s]
                    if len(vals) < 2:
                        continue
                    q1, _, q3 = statistics.quantiles(vals, n=4)
                    med = statistics.median(vals)
                    spread = (q3 - q1) / med
                    med0 = med if med0 is None else med0
                    worse = (med - med0) / med0 if lower else (med0 - med) / med0
                    flag = ""
                    if name != "setup_s" and spread > bound:
                        flag += " SPREAD"
                    if worse > bound:
                        flag += " DRIFT"
                    bad |= bool(flag)
                    print(f"{name:<18} {k:>3} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
                          f"{spread:>7.3f} {worse:>7.3f} {bound:>6}{flag}")
    raise SystemExit(1 if bad else 0)


if __name__ == "__main__":
    main()
