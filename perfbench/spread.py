#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload microbatch_tail --seeds 1-10

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric of BENCHMARK.json its median, its quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the distance between
the quartiles as a share of the median, beside the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def pids_with_env(entry: bytes) -> list[int]:
    """Processes whose environment holds ``entry``. Every process a run
    starts inherits the marker the run was given, so one found after the
    run has exited was left behind by it."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if entry in f.read().split(b"\0"):
                        out.append(int(d))
            except OSError:
                pass
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        marker = f"PERFBENCH_SPREAD_RUN={os.getpid()}-{seed}"
        env = dict(os.environ, PERFBENCH_SPREAD_RUN=marker.partition("=")[2])
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        left = pids_with_env(marker.encode())
        if left:
            print(f"seed {seed}: processes left running after the run: {left}", file=sys.stderr)
            return 1
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} wall={wall:.1f}s")
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, _q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:28} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:7.3f} {m['bound']:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
