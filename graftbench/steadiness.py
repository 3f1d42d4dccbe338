#!/usr/bin/env python3
"""Run each workload with several seeds and print the spread of each metric.

    python3 graftbench/steadiness.py --runs 10 [--sets 2] [--workloads pipeline,catalog_core]
                                     [--log-dir DIR]

For every end-to-end metric: median, quartiles (statistics.quantiles, n=4),
and the spread (Q3 - Q1) / median, next to the bound in BENCHMARK.json.
Prints a Markdown table per workload and set. With more than one set (each
set runs the same seeds again, workload by workload), also prints how far
each later set's medians moved from the first set's, against the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def summarize(workload, results, bounds, walls):
    lines = [f"### {workload} ({len(results)} runs, "
             f"{median_or_zero(walls):.1f} s wall per run)", "",
             "| metric | median | Q1 | Q3 | spread | bound |", "|---|---|---|---|---|---|"]
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        if len(vals) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        lines.append(f"| `{name}` | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                     f"{(q3 - q1) / med if med else 0:.3f} | {bound} |")
    bad = sum(1 for r in results if not r["correct"] or r["failed"])
    lines += ["", f"Runs with a failed check: {bad}."]
    return "\n".join(lines)


def compare(sets, bounds, better):
    lines = ["| workload | metric | set 1 | set " + " | set ".join(
        str(i + 2) for i in range(len(sets) - 1)) + " | worse by | bound |",
        "|---|---|" + "---|" * (len(sets) + 2)]
    for w in sets[0]:
        for name, bound in bounds.items():
            meds = [statistics.median(r["metrics"][name]["value"] for r in s[w])
                    for s in sets if s.get(w)]
            if len(meds) != len(sets) or not meds[0]:
                continue
            sign = 1 if better[name] == "lower" else -1
            worse = max(sign * (m - meds[0]) / meds[0] for m in meds[1:])
            lines.append(f"| {w} | `{name}` | " + " | ".join(f"{m:.4g}" for m in meds) +
                         f" | {100 * worse:+.1f}% | {100 * bound:.0f}% |")
    return "\n".join(lines)


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--log-dir", default=None, help="keep each run's stderr here")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    if args.log_dir:
        os.makedirs(args.log_dir, exist_ok=True)
    sets = []
    for k in range(args.sets):
        sets.append({})
        print(f"## Set {k + 1}\n")
        for w in workloads:
            results, walls = [], []
            for seed in range(args.first_seed, args.first_seed + args.runs):
                t0 = time.time()
                err = (open(os.path.join(args.log_dir, f"set{k + 1}_{w}_{seed}.err"), "w")
                       if args.log_dir else subprocess.DEVNULL)
                p = subprocess.run(bench["command"] + [
                    "--workload", w, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    cwd=REPO, stdout=subprocess.PIPE, stderr=err, text=True)
                if args.log_dir:
                    err.close()
                walls.append(time.time() - t0)
                out = p.stdout.strip().splitlines()
                if p.returncode not in (0, 1) or not out:
                    print(f"{w} seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
                    continue
                results.append(json.loads(out[-1]))
            sets[k][w] = results
            print(summarize(w, results, bounds, walls))
            print(flush=True)
    if len(sets) > 1:
        print("## Two sets on the same code\n")
        print(compare(sets, bounds, better))


if __name__ == "__main__":
    main()
