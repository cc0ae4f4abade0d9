#!/usr/bin/env python3
"""Steadiness check: runs one workload N times with seeds first..first+N-1 and
prints, for every metric, the median, the quartiles and the spread
(interquartile distance over the median) next to the metric's bound from
BENCHMARK.json.

Run from the root of a graft checkout:
    python3 perfbench/steady.py --workload corpus [--runs 10] [--first-seed 1]
        [--trace 0] [--seconds <run_seconds>]

A spread above the bound fails the benchmark's acceptance; the target is a
third of the bound. Results also go to perfbench/.work/steady-<workload>-trace<t>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    declared = bench["per_layer" if args.trace else "end_to_end"]
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        out = json.loads(lines[-1])
        runs.append({"seed": seed, **out})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
        print(f"seed {seed}: correct={out['correct']} failed={out['failed']}/{out['attempted']} "
              f"{vals}", flush=True)
    print(f"\n{args.workload}, {len(runs)} runs, trace={args.trace}, seconds={seconds}")
    print(f"{'metric':32s} {'unit':>7s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s}  verdict")
    summary = {}
    for m in declared:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3, sp = spread(values)
        bound = m.get("bound")
        verdict = "" if bound is None else \
            ("ok (< bound/3)" if sp < bound / 3 else "ok" if sp <= bound else "TOO WIDE")
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                              "bound": bound, "values": values}
        print(f"{m['name']:32s} {m['unit']:>7s} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{sp:8.4f} {'' if bound is None else bound:>6}  {verdict}")
    wrong = sum(r["failed"] for r in runs)
    print(f"failed operations: {wrong} of {sum(r['attempted'] for r in runs)}")
    path = os.path.join(BENCH, ".work", f"steady-{args.workload}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                   "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
