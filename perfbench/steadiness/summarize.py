#!/usr/bin/env python3
"""Summarize two sets of repeated benchmark runs against BENCHMARK.json.

    python3 perfbench/steadiness/summarize.py set_a.jsonl set_b.jsonl > summary.md

Each input line is {"workload", "seed", "wall_s", "exit", "result"}, one run
of `perfbench/run.py --trace 0`. For every gated workload and end-to-end
metric it prints each set's median, its quartile spread as a share of the
median (statistics.quantiles, n=4), the metric's bound, and how much worse
the second set's median is than the first's.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    sets = [load(p) for p in sys.argv[1:3]]
    print("# Steadiness of the gated end-to-end metrics\n")
    print(f"Runs: `perfbench/run.py --seconds {bench['run_seconds']} --trace 0`, "
          f"nproc {os.cpu_count()}, driver heap 3 GB, `local[{os.cpu_count()}]`.")
    for name, rows in zip(("A", "B"), sets):
        seeds = sorted({r["seed"] for r in rows})
        walls = [r["wall_s"] for r in rows]
        bad = [r for r in rows if r["exit"] != 0 or not (r.get("result") or {}).get("correct")]
        print(f"Set {name}: seeds {seeds}, {len(rows)} runs, mean wall {statistics.mean(walls):.1f} s, "
              f"{len(bad)} failed or incorrect.")
    print("\nspread = (Q3 - Q1) / median over the set's runs; worse = how much worse "
          "B's median is than A's, in the metric's bad direction (negative = better).\n")
    print("| workload | metric | bound | median A | spread A | median B | spread B | worse |")
    print("|---|---|---|---|---|---|---|---|")
    for w in (x["name"] for x in bench["workloads"]):
        for m in bench["end_to_end"]:
            vals = [[r["result"]["metrics"][m["name"]]["value"] for r in s
                     if r["workload"] == w and r["exit"] == 0] for s in sets]
            if any(len(v) < 2 for v in vals):
                continue
            med = [statistics.median(v) for v in vals]
            worse = (med[1] / med[0] - 1) * (1 if m["better"] == "lower" else -1)
            print(f"| {w} | {m['name']} | {m['bound']} | {med[0]:.4g} | {spread(vals[0]):.3f} | "
                  f"{med[1]:.4g} | {spread(vals[1]):.3f} | {worse:+.3f} |")


if __name__ == "__main__":
    main()
