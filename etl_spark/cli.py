"""spark-submit entry point for the CDC engine.

The reference's orchestration entry is ``Application.scala:13-35`` (wire
services, run pipelines in sequence); here the driver program is a CLI that
wires a SparkSession and runs one of the engine's flows. On a cluster::

    spark-submit --py-files etl_spark.zip -m etl_spark.cli \\
        stream --binlog s3://bucket/binlog --table s3://bucket/table \\
               --checkpoint s3://bucket/ckpt

Subcommands:
  gen      write a deterministic synthetic binlog (datagen.BinlogSpec knobs)
  replay   batch-replay a binlog dir into a table, one epoch per lsn_bucket
  stream   Structured-Streaming tail (AvailableNow) with checkpoint resume
  compact  small-file compaction on a table (--mor: targeted winners-file
           debt compaction that sheds the merge-on-read masks)
  migrate-layout  flip the physical layout descriptor (range <-> bucket),
           then rewrite every live file in resumable stage commits
  evolve   metadata-only schema evolution: add / widen / rename columns
  lineage  print the table's lineage ledger + exactly-once coverage report
"""

from __future__ import annotations

import argparse
import glob
import json
import re
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl-spark")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (default: SPARK_GRAFT_CPUS)")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=1_000_000)
    g.add_argument("--keys", type=int, default=50_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--buckets", type=int, default=16)
    g.add_argument(
        "--format",
        choices=["parquet", "debezium-json", "json"],
        default="parquet",
        help="wire shape of the written feed (JSON forms are one object per line)",
    )

    r = sub.add_parser("replay")
    r.add_argument("--binlog", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--salted", action="store_true", help="use the salted hot-key dedup path")
    r.add_argument(
        "--merge-mode",
        choices=["auto", "cow", "mor"],
        default="auto",
        help="copy-on-write, merge-on-read, or auto by touched/batch ratio",
    )
    r.add_argument(
        "--layout",
        choices=["range", "bucket"],
        default="range",
        help="physical file layout if the table is being CREATED (immutable after)",
    )
    r.add_argument("--n-buckets", type=int, default=64, help="bucket count for --layout bucket")

    s = sub.add_parser("stream")
    s.add_argument("--binlog", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--max-files-per-trigger", type=int, default=4)
    s.add_argument("--merge-mode", choices=["auto", "cow", "mor"], default="auto")
    s.add_argument(
        "--auto-compact-mor",
        action="store_true",
        help="shed the winners-file backlog in-line (maybe_compact_mor)",
    )
    s.add_argument(
        "--layout",
        choices=["range", "bucket"],
        default="range",
        help="physical file layout if the table is being CREATED (immutable after)",
    )
    s.add_argument("--n-buckets", type=int, default=64, help="bucket count for --layout bucket")
    s.add_argument(
        "--format",
        choices=["parquet", "debezium-json", "json"],
        default="parquet",
        help="feed wire shape (streaming/formats.py normalizers for the JSON forms)",
    )

    c = sub.add_parser("compact")
    c.add_argument("--table", required=True)
    c.add_argument("--small-file-rows", type=int, default=100_000)
    c.add_argument("--mor", action="store_true", help="compact the MoR winners files + their victims instead")

    ml = sub.add_parser("migrate-layout")
    ml.add_argument("--table", required=True)
    ml.add_argument("--layout", choices=["range", "bucket"], required=True)
    ml.add_argument("--n-buckets", type=int, default=64)
    ml.add_argument(
        "--files-per-stage",
        type=int,
        default=None,
        help="stale files rewritten per stage commit (default: unset = every file in a single stage)",
    )
    ml.add_argument("--max-stages", type=int, default=None, help="bound this invocation (resume later)")

    ev = sub.add_parser("evolve")
    ev.add_argument("--table", required=True)
    ev.add_argument("--add", action="append", default=[], metavar="NAME:TYPE")
    ev.add_argument("--widen", action="append", default=[], metavar="NAME:TYPE")
    ev.add_argument("--rename", action="append", default=[], metavar="OLD:NEW")

    li = sub.add_parser(
        "lineage",
        description=(
            "Output is line-oriented JSON: one line per epoch (or per ledger row with "
            "--per-partition), in epoch order; the LAST line is always the coverage verdict "
            "{epochs, lsn_lo, lsn_hi, rows_upserted, rows_deleted, exactly_once_ok}."
        ),
    )
    li.add_argument("--table", required=True)
    li.add_argument(
        "--per-partition",
        action="store_true",
        help="emit every (epoch, partition) ledger row instead of per-epoch rollups",
    )

    args = p.parse_args(argv)

    from etl_spark.session import build_session

    spark = build_session(app_name=f"etl-spark-{args.cmd}", cores=args.cores)

    if args.cmd == "gen":
        from etl_spark.datagen import BinlogSpec, write_binlog, write_binlog_json

        spec = BinlogSpec(n_events=args.events, n_keys=args.keys, seed=args.seed, n_buckets=args.buckets)
        if args.format == "parquet":
            write_binlog(spark, spec, args.out)
        else:
            write_binlog_json(
                spark, spec, args.out, envelope="debezium" if args.format == "debezium-json" else "flat"
            )
        print(json.dumps({"written": args.out, "events": args.events, "format": args.format}))
        return 0

    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable

    if args.cmd == "replay":
        from etl_spark.operators.merge import merge_batch

        layout = (
            {"type": "bucket", "n_buckets": args.n_buckets} if args.layout == "bucket" else None
        )
        table = LakeTable.create_if_absent(spark, args.table, TARGET_SCHEMA, layout=layout)
        buckets = sorted(
            int(re.search(r"=(\d+)$", d).group(1)) for d in glob.glob(f"{args.binlog}/lsn_bucket=*")
        )
        for b in buckets:
            res = merge_batch(
                table,
                spark.read.parquet(f"{args.binlog}/lsn_bucket={b}"),
                epoch=b,
                use_salted_dedup=args.salted,
                merge_mode=args.merge_mode,
            )
            print(
                json.dumps(
                    {
                        "epoch": b,
                        "applied": res.applied,
                        "mode": res.mode,
                        "rows_upserted": res.rows_upserted,
                        "rows_deleted": res.rows_deleted,
                        "snapshot": res.snapshot_id,
                    }
                )
            )
        return 0

    if args.cmd == "stream":
        from etl_spark.streaming.tail import run_stream_replay

        report = run_stream_replay(
            spark,
            binlog_dir=args.binlog,
            table_root=args.table,
            checkpoint_dir=args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            merge_mode=args.merge_mode,
            auto_compact_mor=args.auto_compact_mor,
            layout=(
                {"type": "bucket", "n_buckets": args.n_buckets}
                if args.layout == "bucket"
                else None
            ),
            feed_format=args.format,
        )
        print(
            json.dumps(
                {"batches": len(report.batches), "applied": report.applied_batches, "rows_upserted": report.rows_upserted}
            )
        )
        return 0

    if args.cmd == "compact":
        from etl_spark.table.maintenance import compact, compact_mor

        table = LakeTable(spark, args.table)
        if args.mor:
            sid = compact_mor(table)
        else:
            sid = compact(table, small_file_rows=args.small_file_rows)
        print(json.dumps({"snapshot": sid}))
        return 0

    if args.cmd == "migrate-layout":
        from etl_spark.table.maintenance import migrate_layout_staged

        table = LakeTable(spark, args.table)
        new_layout = (
            {"type": "bucket", "n_buckets": args.n_buckets}
            if args.layout == "bucket"
            else {"type": "range"}
        )
        rep = migrate_layout_staged(
            table,
            new_layout,
            max_files_per_stage=args.files_per_stage,
            max_stages=args.max_stages,
        )
        print(json.dumps({**rep, "layout": table.layout()}))
        return 0

    if args.cmd == "evolve":
        def _pairs(items: list[str]) -> list[tuple[str, str]]:
            out = []
            for it in items:
                a, _, b = it.partition(":")
                if not a or not b:
                    raise SystemExit(f"expected NAME:VALUE, got {it!r}")
                out.append((a, b))
            return out

        table = LakeTable(spark, args.table)
        sid = table.update_schema(
            add_columns=_pairs(args.add),
            widen=dict(_pairs(args.widen)),
            renames=dict(_pairs(args.rename)),
        )
        print(json.dumps({"snapshot": sid, "schema": [
            (f.name, f.dataType.simpleString()) for f in table.schema().fields
        ]}))
        return 0

    if args.cmd == "lineage":
        # An operator debugging a 100-TB replay needs "which lsn ranges
        # landed in which epoch" without writing Python (round-4 verdict
        # item 8): one JSON line per epoch (or per ledger row with
        # --per-partition), then the exactly-once coverage verdict.
        from etl_spark.lineage import coverage, epoch_rollup

        table = LakeTable(spark, args.table)
        recs = table.lineage()
        if args.per_partition:
            for r in sorted(recs, key=lambda r: (r["checkpoint_epoch"], r["partition_id"])):
                print(json.dumps(r))
        else:
            for row in epoch_rollup(recs):
                print(json.dumps(row))
        rep = coverage(table)
        print(
            json.dumps(
                {
                    "epochs": rep.epochs,
                    "lsn_lo": rep.lsn_lo,
                    "lsn_hi": rep.lsn_hi,
                    "rows_upserted": rep.rows_upserted,
                    "rows_deleted": rep.rows_deleted,
                    "exactly_once_ok": rep.ok,
                }
            )
        )
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
