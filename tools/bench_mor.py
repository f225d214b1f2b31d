"""Merge-on-read A/B: many small epochs against a large table, CoW vs MoR.

The regime MoR targets: a bulk-loaded table (--table-events) takes a stream
of microbatches (--micro-epochs x --micro-events) whose keys spread across
the whole keyspace, so copy-on-write rewrites nearly every file every epoch
(write amplification = table size), while merge-on-read writes one
batch-sized winners file (amplification = batch size) and pays one final
compaction. Both replays run in ONE session, interleaved-fairly (cow epoch
i, then mor epoch i) so VM drift hits both arms equally; final states are
asserted identical.

Usage: python tools/bench_mor.py [--table-events N] [--micro-epochs N]
       [--micro-events N] [--cores N]
Prints one JSON line with per-arm wall/per-epoch times + compaction cost.
bench.py runs the same A/B (``run_ab``) at a smaller size.
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


def write_feeds(
    spark, root: str, table_events: int, micro_epochs: int, micro_events: int
) -> tuple[str, list[str]]:
    """Write the bulk feed (``table_events`` events over ``table_events // 4``
    keys, at least 1,000) and ``micro_epochs`` microbatch feeds of
    ``micro_events`` events over the same keys, each above every earlier
    feed's lsns, as parquet under ``root``. Returns the bulk dir and the
    micro dirs in epoch order."""
    from etl_spark.datagen import BinlogSpec, generate_binlog

    n_keys = max(1000, table_events // 4)
    bulk_dir = os.path.join(root, "bulk")
    generate_binlog(spark, BinlogSpec(n_events=table_events, n_keys=n_keys, seed=7)).drop(
        "delivery_pos", "lsn_bucket"
    ).write.mode("overwrite").parquet(bulk_dir)
    micro_dirs = []
    for e in range(micro_epochs):
        d = os.path.join(root, f"micro{e}")
        generate_binlog(
            spark,
            BinlogSpec(n_events=micro_events, n_keys=n_keys, seed=100 + e, lsn_offset=table_events * (e + 1)),
        ).drop("delivery_pos", "lsn_bucket").write.mode("overwrite").parquet(d)
        micro_dirs.append(d)
    return bulk_dir, micro_dirs


def run_ab(spark, table_events: int, micro_epochs: int, micro_events: int) -> dict:
    """Run the A/B on ``spark``: one bulk-seeded table per arm, interleaved
    micro epochs, one full compaction of the MoR table, identical final
    states asserted. Returns per-arm walls, per-epoch times and the
    compaction cost; feed generation is excluded from every timing."""
    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable
    from etl_spark.table.maintenance import compact

    root = tempfile.mkdtemp(prefix="bench_mor_")
    try:
        bulk_dir, micro_dirs = write_feeds(spark, root, table_events, micro_epochs, micro_events)

        tables = {}
        for arm in ("cow", "mor"):
            tdir = os.path.join(root, f"table_{arm}")
            t = LakeTable.create_if_absent(spark, tdir, TARGET_SCHEMA)
            merge_batch(t, spark.read.parquet(bulk_dir), epoch=0)  # bulk seed: CoW both arms
            tables[arm] = t

        per_epoch = {"cow": [], "mor": []}
        for e, d in enumerate(micro_dirs):
            for arm in ("cow", "mor"):  # interleaved: drift hits both arms
                batch = spark.read.parquet(d)
                t0 = time.time()
                r = merge_batch(tables[arm], batch, epoch=e + 1, merge_mode=arm)
                per_epoch[arm].append(round(time.time() - t0, 3))
                if not (r.applied and r.mode == arm):
                    raise RuntimeError(f"{arm} epoch {e + 1} did not apply as {arm}: {r}")

        t0 = time.time()
        compact(tables["mor"], small_file_rows=1 << 60)  # full: sheds every mask
        compact_sec = round(time.time() - t0, 2)

        # equality gate: both arms reach the identical final state
        a = tables["cow"].read().select("doc_id", "tokens", "n_tok", "source")
        b = tables["mor"].read().select("doc_id", "tokens", "n_tok", "source")
        n_a = a.count()
        if n_a != b.count():
            raise RuntimeError("row counts diverge")
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            raise RuntimeError("states diverge")

        cow_sec, mor_sec = sum(per_epoch["cow"]), sum(per_epoch["mor"])
        return {
            "table_events": table_events,
            "micro_epochs": micro_epochs,
            "micro_events": micro_events,
            "final_rows": n_a,
            "cow_wall_sec": round(cow_sec, 2),
            "mor_wall_sec": round(mor_sec, 2),
            "mor_compact_sec": compact_sec,
            "cow_per_epoch": per_epoch["cow"],
            "mor_per_epoch": per_epoch["mor"],
            "speedup_excl_compact": round(cow_sec / max(mor_sec, 1e-9), 2),
            "speedup_incl_compact": round(cow_sec / max(mor_sec + compact_sec, 1e-9), 2),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-events", type=int, default=2_000_000)
    ap.add_argument("--micro-epochs", type=int, default=16)
    ap.add_argument("--micro-events", type=int, default=5_000)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from etl_spark.session import build_session

    spark = build_session(app_name="bench-mor", cores=args.cores, shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    out = run_ab(spark, args.table_events, args.micro_epochs, args.micro_events)
    print(json.dumps({"metric": "mor_vs_cow_microbatch_replay", "cores": args.cores, **out}))


if __name__ == "__main__":
    main()
