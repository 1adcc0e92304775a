#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and the tracing overhead.

Usage (from the repository root):

    python3 perfbench/spread.py --workload reads --runs 10 [--first-seed 100] [--traced]

Runs the benchmark once per seed and prints, for each end-to-end metric, its
median and the distance between the first and third quartile as a share of
the median, next to the metric's bound from BENCHMARK.json. With
``--traced`` each seed also gets a traced run (right after its untraced one,
so slow drift of the host hits both alike), and the tracing overhead of each
end-to-end metric is printed: the median of the traced runs' ``trace.<name>``
over the median of the untraced runs' ``<name>``, minus one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(bench, workload, seed, trace):
    out = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    line = json.loads(out.stdout.strip().splitlines()[-1])
    return line, {k: v["value"] for k, v in line["metrics"].items()}


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in bench["end_to_end"]]
    plain = {k: [] for k in names}
    traced = {k: [] for k in names}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        line, vals = run(bench, args.workload, seed, 0)
        print(f"seed {seed}: correct={line['correct']} " + " ".join(
            f"{k}={vals[k]:.4g}" for k in names), flush=True)
        for k in names:
            plain[k].append(vals[k])
        if args.traced:
            line, vals = run(bench, args.workload, seed, 1)
            print(f"seed {seed} traced: correct={line['correct']} " + " ".join(
                f"{k}={vals['trace.' + k]:.4g}" for k in names), flush=True)
            for k in names:
                traced[k].append(vals["trace." + k])
    for m in bench["end_to_end"]:
        k = m["name"]
        msg = (f"{k:14s} median {statistics.median(plain[k]):10.4g}"
               f"  spread {spread(plain[k]):6.3f}  bound {m['bound']}")
        if args.traced:
            msg += (f"  traced median {statistics.median(traced[k]):10.4g}"
                    f"  spread {spread(traced[k]):6.3f}  overhead "
                    f"{statistics.median(traced[k]) / statistics.median(plain[k]) - 1:+.3f}")
        print(msg)
    return 0


if __name__ == "__main__":
    sys.exit(main())
