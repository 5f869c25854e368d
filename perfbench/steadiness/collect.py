#!/usr/bin/env python3
"""Record one set of repeated benchmark runs as JSON lines.

    python3 perfbench/steadiness/collect.py set_a.jsonl 1 10

Runs `perfbench/run.py --trace 0` once per seed in [first, last] on every
workload of BENCHMARK.json, alternating the workloads seed by seed, with the
benchmark's `run_seconds`. Each line is {"workload", "seed", "wall_s",
"exit", "result"}; `summarize.py` reads two such files.
"""
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    out, first, last = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    with open(out, "a") as fh:
        for seed in range(first, last + 1):
            for w in (x["name"] for x in bench["workloads"]):
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                t0 = time.monotonic()
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                wall = round(time.monotonic() - t0, 2)
                lines = p.stdout.splitlines()
                try:
                    result = json.loads(lines[-1]) if p.returncode == 0 else None
                except (IndexError, ValueError):
                    result = None
                fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                     "exit": p.returncode, "result": result}) + "\n")
                fh.flush()


if __name__ == "__main__":
    main()
