#!/usr/bin/env python3
"""Steadiness check: runs every workload once per seed, untraced, and records
each end-to-end metric's values, median and spread (interquartile distance
over the median, as statistics.quantiles(n=4) gives the quartiles).

    python3 perfbench/steady.py perfbench/steadiness/set1.json [--seeds 10] [--first 1]

Run from the repository root. A metric is steady when its spread is within
its bound in BENCHMARK.json (setup_s is exempt from the spread check).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "cores": os.cpu_count(), "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        runs = []
        for seed in range(a.first, a.first + a.seeds):
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                               "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            line = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1), **line})
            print(w, seed, runs[-1]["wall_s"], line["correct"], file=sys.stderr)
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            metrics[name] = {"median": statistics.median(vals), "spread": stats.spread(vals),
                             "bound": bound, "values": vals}
        report["workloads"][w] = {"runs": runs, "metrics": metrics}
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
    for w, r in report["workloads"].items():
        for name, m in r["metrics"].items():
            print(f"{w:10s} {name:14s} median {m['median']:.4f} spread {m['spread']:.3f} "
                  f"(bound {m['bound']})")


if __name__ == "__main__":
    main()
