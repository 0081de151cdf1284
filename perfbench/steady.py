#!/usr/bin/env python3
"""Steadiness self-check: run each workload with several seeds and report,
for every end-to-end metric, the run-to-run spread (the distance between the
first and third quartiles as a share of the median) against the metric's
bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]

Run from the repository root. Prints one table per workload, the mean
wall time of a run, and writes the raw runs to .bench_work/steady.json.
Exits 1 if any spread other than setup_s's exceeds its bound.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs, ok = {}, True
    for w in names:
        runs[w] = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                ok = False
                continue
            line = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= line["correct"]
            runs[w].append({"seed": seed, "run_s": time.monotonic() - t0, **line})
        print(f"\n{w}: {len(runs[w])} runs, "
              f"{statistics.mean(r['run_s'] for r in runs[w]) if runs[w] else 0:.1f} s per run")
        print(f"  {'metric':<14}{'median':>14}{'spread':>9}{'bound':>8}")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs[w]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            flag = "" if spread <= bound or m == "setup_s" else "  OVER"
            ok &= not flag
            print(f"  {m:<14}{med:>14.4f}{spread:>9.3f}{bound:>8.2f}{flag}")
    with open(os.path.join(ROOT, ".bench_work", "steady.json"), "w") as f:
        json.dump(runs, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
