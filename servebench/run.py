#!/usr/bin/env python3
"""Serving benchmark of the vicinity engine: one run of one workload.

Usage (from the repository root):
  python3 servebench/run.py --workload knn-exact-mem --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark from source (see build.py), runs the
workload in one JVM on local[4], and prints every metric by name with its
unit. The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The full record of the run
(every metric, calibration, checks, and spans when traced) is kept under
`.servebench_runs/<workload>/`. Exit code 0 only when every correctness
check passed and no operation failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("knn-exact-mem", "ivf-disk-rw", "hnsw-disk-walk")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, args, out, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file: the run writes nothing outside its checkout
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens
            + ["-cp", classpath, "servebench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--out", out, "--work", work])


def run_jvm(cmd, deadline):
    """Runs the JVM in its own process group; kills the group at the deadline
    or on SIGTERM/SIGINT, and always waits for it to end."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()

    def on_signal(signum, _frame):
        stop()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        return proc.wait(max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("[servebench] run exceeded its time limit", file=sys.stderr)
        stop()
        return None
    finally:
        stop()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        print(f"[servebench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S

    runs = os.path.join(root, ".servebench_runs")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(runs, args.workload,
                       f"seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}")
    work = os.path.join(runs, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code = run_jvm(jvm_command(classpath, args, out, work), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        print(f"[servebench] run failed (exit {code}); no result", file=sys.stderr)
        return 1
    with open(result_file) as f:
        res = json.load(f)

    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    correct = res["correct"] and all(
        m["value"] is not None for m in res["end_to_end"].values())
    for group in ("end_to_end", "writes", "per_layer"):
        for name, m in sorted(res[group].items()):
            print(f"{args.workload} {name} {m['value']} {m['unit']}")
    cal = res["calibration"]
    print(f"{args.workload} calibration probe_s {cal['probe_start_s']:.3f}/"
          f"{cal['probe_end_s']:.3f} load_avg {cal['load_avg_start']:.2f}/"
          f"{cal['load_avg_end']:.2f} gc_ms {cal['gc_ms']}")
    for c in res["checks"]:
        print(f"{args.workload} check {c['name']} {'ok' if c['ok'] else 'FAILED ' + c['detail'][:300]}")
    print(f"{args.workload} record {os.path.relpath(out, root)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
