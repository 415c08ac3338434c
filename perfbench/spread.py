#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload note_dump --seeds 1-10 [--seconds 5] [--out DIR]

For every end-to-end metric: the median over the runs and the interquartile
range as a share of that median (quartiles as `statistics.quantiles(xs,
n=4)` gives them), next to the metric's bound from BENCHMARK.json. A metric
is steady when its spread is well inside the bound. `setup_s` is listed too,
though its bound applies to the change in its median, not to its spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values):
    """(median, (q3 - q1) / median) of at least two values."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def summarize(results, bounds):
    """Rows of (metric, n, median, spread, bound) over the per-run metric dicts."""
    rows = []
    for name in sorted({k for r in results for k in r}):
        vals = [r[name]["value"] for r in results if name in r]
        med, sp = spread(vals) if len(vals) >= 2 else (vals[0], float("nan"))
        rows.append((name, len(vals), med, sp, bounds.get(name)))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    results = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True)
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            with open(os.path.join(args.out, "%s-%d.out" % (args.workload, seed)), "w") as fh:
                fh.write(p.stdout + p.stderr)
        last = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        if not last or not last["correct"]:
            print("seed %d: run failed (exit %d)" % (seed, p.returncode), file=sys.stderr)
            sys.exit(1)
        results.append(last["metrics"])
        print("seed %d: %s" % (seed, " ".join("%s=%.4g" % (k, v["value"]) for k, v in last["metrics"].items())))
    for name, n, med, sp, bound in summarize(results, bounds):
        print("%-24s n=%d median=%.6g spread=%.4f bound=%s" % (name, n, med, sp, bound))


if __name__ == "__main__":
    main()
