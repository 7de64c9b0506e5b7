#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed and reports, for every
metric, the median, the quartiles and the quartile spread as a share of the
median -- the statistic the benchmark's bounds are checked against.

    python3 perfbench/steady.py --runs 10 [--trace 0|1] [--workload NAME ...]

Run from the root of a checkout. Prints a markdown table; the raw result
line of every run goes to .perfbench/steady/<workload>-<trace>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them;
    the spread is None for a median of 0 (a count that did not occur)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else None


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in bench["workloads"]]
    out_dir = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print("| workload | metric | unit | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        results = []
        with open(os.path.join(out_dir, f"{name}-{a.trace}.jsonl"), "w") as log:
            for seed in range(a.first_seed, a.first_seed + a.runs):
                res = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                     "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                     "--trace", str(a.trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = res.stdout.strip().splitlines() or ["{}"]
                if res.returncode != 0 or not json.loads(lines[-1]).get("correct"):
                    raise SystemExit(f"{name} seed {seed}: exit {res.returncode}: {lines[-1]}")
                log.write(lines[-1] + "\n")
                result = json.loads(lines[-1])["metrics"]
                overhead = json.loads(lines[-2])["summary"].get("trace_overhead")
                if overhead is not None:
                    # relative queries_per_s loss against the untraced run before it
                    result["trace_overhead"] = {"value": overhead, "unit": "ratio"}
                results.append(result)
        for metric in results[0]:
            med, q1, q3, sp = spread([r[metric]["value"] for r in results])
            bound = bounds.get(metric)
            print(f"| {name} | {metric} | {results[0][metric]['unit']} | {med:.4g} | "
                  f"{q1:.4g} | {q3:.4g} | {'-' if sp is None else f'{sp:.3f}'} | "
                  f"{'' if bound is None else bound} |",
                  flush=True)


if __name__ == "__main__":
    main()
