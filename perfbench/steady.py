#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed,
and print the median and quartiles of every metric with its spread
((q3 - q1) / median, quartiles as statistics.quantiles(n=4) gives them)
against the metric's bound from BENCHMARK.json. A spread above a third
of its bound is marked; setup_s is reported but not held to its bound.

Usage (from the repo root):
  python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                              [--trace 0|1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values = {}
    bad = 0
    invalid = 0
    for i in range(a.runs):
        seed = a.first_seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if r.returncode == 0 and lines else {}
        record = json.loads(lines[-2])["run"] if r.returncode == 0 and len(lines) > 1 else {}
        if not res.get("correct"):
            bad += 1
            print(f"seed {seed}: FAILED (exit {r.returncode})\n{r.stderr[-2000:]}", file=sys.stderr)
            continue
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if not record.get("valid", True):
            invalid += 1
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + f"  steal={record.get('host_steal_during', float('nan')):.0%}"
              + ("" if record.get("valid", True) else "  INVALID"), flush=True)

    print(f"\n{a.workload}: {a.runs - bad}/{a.runs} runs correct, {invalid} flagged invalid")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        mark = ""
        if bound is not None and name != "setup_s" and spread > bound / 3:
            mark = "  > bound/3"
        print(f"{name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{'' if bound is None else f'{bound:6.2f}'}{mark}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
