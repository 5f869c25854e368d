#!/usr/bin/env python3
"""Run one benchmark workload from the repository root:

    python3 perfbench/run.py --workload lakehouse_read --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source if needed (perfbench/build.py),
runs the workload in one JVM, relays its readable `[perfbench] name value unit`
lines, and prints one JSON result object as the last line of stdout. With
`--trace 1` the metrics are the per-layer ones and the spans are kept under
`.bench_work/traces/`. Exits non-zero, printing no result, when the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# Set-ups per run; setup_s is their median. lakehouse_read's single set-up
# is about forty sequential commits plus reference queries (about 35 s), and
# several would not fit the run budget BENCHMARK.json implies.
SETUPS = {"lakehouse_read": 1, "ingest_dml": 5, "dedup_pipeline": 3}
# The JVM's limit; a build before it is not counted (only a first run builds).
RUN_TIMEOUT_S = 170
HEAP = "3g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SETUPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build(ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"] + build.jvm_options() + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dhadoop.tmp.dir={work}/tmp",
        "-cp", os.pathsep.join(classpath),
        "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
        str(SETUPS[a.workload])])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT")}
    log_path = os.path.join(work, "jvm.log")
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def stop(signum, _frame):
            # The JVM has its own session, so a signal to this process's
            # group does not reach it: end it here before exiting.
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"timed out after {RUN_TIMEOUT_S}s", log_path)
        lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"JVM exited with {proc.returncode}", log_path)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last line is not a JSON result", log_path)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result has unexpected keys", log_path)

    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def fail(why, log_path):
    print(f"perfbench: {why}; last JVM log lines:", file=sys.stderr)
    try:
        with open(log_path) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.writelines(tail)
    except OSError:
        pass
    sys.exit(1)


if __name__ == "__main__":
    main()
