#!/usr/bin/env python3
"""Tracing overhead: runs each workload untraced and traced on the same
seeds and reports how much longer a unit of work takes under tracing.

    python3 perfbench/overhead.py --seeds 1 2 3 --seconds 8

Run it from the repository root. For every workload and seed it runs
perfbench/run.py with --trace 0 and then --trace 1, and compares the
untraced op_p50_ms with the traced trace.unit_s. It prints one JSON line a
workload: the per-seed pairs, the median of their relative differences
(traced - untraced) / untraced, and, for comparison, the median of the
tracer's self-timed share (trace.overhead_share), which misses listener-bus
and allocation effects that the paired difference includes.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

WORKLOADS = ("econ_daily", "econ_read", "corpus_curate", "stream_upsert")
RUN = os.path.join("perfbench", "run.py")

child = None


def stop(signum, _frame):
    # run.py stops its own JVM on SIGTERM
    if child is not None:
        child.terminate()
        child.wait()
    sys.exit(128 + signum)


def run(workload, seed, seconds, trace):
    global child
    child = subprocess.Popen([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)],
                             stdout=subprocess.PIPE, text=True)
    out, _ = child.communicate()
    rc, child = child.returncode, None
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        sys.exit(f"overhead: {workload} seed {seed} trace {trace} exited with {rc}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"overhead: {workload} seed {seed} trace {trace} gave wrong outputs")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--seconds", type=float, default=8)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    for w in WORKLOADS:
        pairs = []
        for s in a.seeds:
            untraced = run(w, s, a.seconds, 0)["op_p50_ms"]
            traced = run(w, s, a.seconds, 1)
            pairs.append({"seed": s, "untraced_ms": untraced,
                          "traced_ms": traced["trace.unit_s"] * 1000,
                          "self_share": traced["trace.overhead_share"]})
        print(json.dumps({
            "workload": w,
            "pairs": pairs,
            "overhead_share": statistics.median(
                (p["traced_ms"] - p["untraced_ms"]) / p["untraced_ms"] for p in pairs),
            "self_share": statistics.median(p["self_share"] for p in pairs),
        }), flush=True)


if __name__ == "__main__":
    main()
