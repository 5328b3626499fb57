#!/usr/bin/env python3
"""Steadiness check: run one workload N times and compare each metric's
spread with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload llm_dedup --runs 10 [--seed0 1]
        [--sets 2] [--trace-overhead]

Run i uses seed seed0 + i. For every end-to-end metric it prints the
median, the quartiles (statistics.quantiles, n=4), the spread
(q3 - q1) / median and the metric's bound; with --sets 2 it repeats the
same seeds and prints how far the second median moved from the first.
Each run's host-noise sentinel (a fixed Spark job sampled before and after
the run) is printed too, and a run whose sentinel is more than half above
the set's median sentinel is flagged as contended. --trace-overhead also runs every seed traced and
prints the traced op_p50_s against the untraced one.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        sys.exit(f"run of {workload} seed {seed} failed ({r.returncode})")
    out = json.loads(lines[-1])
    m = re.search(r"sentinel_s head=(\S+) tail=(\S+)", r.stdout)
    head = [float(x) for x in m.group(1).split(",")]
    tail = [float(x) for x in m.group(2).split(",")]
    # op_p50_s is in the human table of traced and untraced runs
    p50 = float(re.search(r"^\s+op_p50_s\s+(\S+)", r.stdout, re.M).group(1))
    return out, head, tail, p50


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    medians = []
    p50s = []
    for s in range(args.sets):
        values = {k: [] for k in bounds}
        sentinels = []
        for i in range(args.runs):
            seed = args.seed0 + i
            out, head, tail, p50 = run(args.workload, seed, seconds, 0)
            if s == 0:
                p50s.append(p50)
            for k in bounds:
                values[k].append(out["metrics"][k]["value"])
            sentinels.append((statistics.median(head), statistics.median(tail)))
            print(f"set {s + 1} seed {seed}: op_p50_s={p50:.3f} sentinel "
                  f"head={sentinels[-1][0]:.3f} tail={sentinels[-1][1]:.3f}",
                  flush=True)
        ref = [statistics.median(x) for x in zip(*sentinels)]
        for i, sn in enumerate(sentinels):
            if any(v > 1.5 * r for v, r in zip(sn, ref)):
                print(f"  seed {args.seed0 + i} ran CONTENDED "
                      f"(sentinel {sn[0]:.3f}/{sn[1]:.3f}, set median "
                      f"{ref[0]:.3f}/{ref[1]:.3f})")
        print(f"{'metric':28s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
              f"{'spread':>7s} {'bound':>6s}")
        meds = {}
        for k, vs in values.items():
            med, q1, q3, sp = spread(vs)
            meds[k] = med
            mark = "" if sp <= bounds[k] / 3 else (
                "  over bound/3" if sp <= bounds[k] else "  OVER BOUND")
            if k == "setup_s":
                mark = ""
            print(f"{k:28s} {med:10.4f} {q1:10.4f} {q3:10.4f} {sp:7.3f} "
                  f"{bounds[k]:6.2f}{mark}")
        medians.append(meds)
    if len(medians) > 1:
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        print("second set against the first (positive = worse):")
        for k, b in bounds.items():
            a, z = medians[0][k], medians[-1][k]
            worse = (z - a) / a if better[k] == "lower" else (a - z) / a
            print(f"  {k:28s} {worse:+7.3f} bound {b:.2f}"
                  f"{'  OVER' if worse > b else ''}")
    if args.trace_overhead:
        traced = [run(args.workload, args.seed0 + i, seconds, 1)[3]
                  for i in range(args.runs)]
        ratio = statistics.median(traced) / statistics.median(p50s)
        print(f"tracing overhead: traced op_p50_s median "
              f"{statistics.median(traced):.4f} / untraced "
              f"{statistics.median(p50s):.4f} = {ratio:.3f}")


if __name__ == "__main__":
    main()
