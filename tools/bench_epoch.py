"""Per-epoch driver fixed-cost instrumentation (round-3 verdict item 1).

Protocol (BENCH/BASELINE.md "Per-epoch fixed cost"): bulk-load a table,
then apply back-to-back MICROBATCH epochs (small events vs a big table) in
one session, timing each epoch end-to-end and counting the Spark jobs it
launched (statusTracker job-id delta). The per-epoch wall at this scale is
~all driver fixed cost — job-barrier scheduling of plan/resolve/write —
because the data volumes are trivial.

Usage: python tools/bench_epoch.py [--table-events N] [--micro-epochs N]
       [--micro-events N] [--cores N] [--merge-mode auto|cow|mor]
Prints one JSON line: per-epoch wall stats + jobs/epoch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-events", type=int, default=2_000_000)
    ap.add_argument("--micro-epochs", type=int, default=16)
    ap.add_argument("--micro-events", type=int, default=5_000)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--merge-mode", default="auto")
    ap.add_argument("--layout", default="range", choices=["range", "bucket"])
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args()

    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.session import build_session
    from etl_spark.table import LakeTable
    from tools.bench_mor import write_feeds

    spark = build_session(app_name="bench-epoch", cores=args.cores, shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="bench_epoch_")
    try:
        bulk_dir, micro_dirs = write_feeds(
            spark, root, args.table_events, args.micro_epochs, args.micro_events
        )

        tdir = os.path.join(root, "table")
        layout = (
            {"type": "bucket", "n_buckets": args.buckets} if args.layout == "bucket" else None
        )
        table = LakeTable.create_if_absent(spark, tdir, TARGET_SCHEMA, layout=layout)
        merge_batch(table, spark.read.parquet(bulk_dir), epoch=0)

        walls, jobs = [], []
        phase_acc: dict[str, list[float]] = {}
        for e, d in enumerate(micro_dirs):
            batch = spark.read.parquet(d)
            # count ALL jobs since start: job ids are global and monotone
            n0 = len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))
            t0 = time.time()
            r = merge_batch(table, batch, epoch=e + 1, merge_mode=args.merge_mode)
            w = time.time() - t0
            # the merge records its phase seconds in the commit it made
            phases = table.snapshot(r.snapshot_id)["summary"].get("phase_s", {})
            for name, sec in phases.items():
                phase_acc.setdefault(name, []).append(sec)
            n1 = len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))
            walls.append(round(w, 3))
            jobs.append(n1 - n0)
            ptxt = " ".join(f"{name}={sec:.2f}" for name, sec in phases.items())
            print(f"epoch {e+1}: {w:.2f}s jobs={n1-n0} mode={r.mode} [{ptxt}]", file=sys.stderr)

        walls_s = sorted(walls)
        out = {
            "metric": "per_epoch_fixed_cost_sec",
            "merge_mode": args.merge_mode,
            "layout": args.layout,
            "table_events": args.table_events,
            "micro_epochs": args.micro_epochs,
            "micro_events": args.micro_events,
            "cores": args.cores,
            "per_epoch": walls,
            "median": walls_s[len(walls_s) // 2],
            "min": walls_s[0],
            "max": walls_s[-1],
            "jobs_per_epoch": jobs,
            "phase_median": {
                k: sorted(v)[len(v) // 2] for k, v in sorted(phase_acc.items())
            },
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
