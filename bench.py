"""Benchmark harness: CDC binlog replay throughput + headline query timings.

Headline metric (BASELINE.json): change-events/sec applied end-to-end through
the epoch-fenced MERGE path on a deterministic synthetic binlog (datagen.py;
the 10^10-event design point scaled to the local tier). Secondary: wall time
of representative operators at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line of at most ~1.5k characters:
  {"metric": "cdc_replay_wall_sec", "value": <sec>, "unit": "sec",
   "sf": <sf>, "cpus": <n>, "events_per_sec": X,
   "queries": {...per-query median sec...},
   "phase_s": {...the headline replay's merge phase seconds...}}
and writes the full record (per-query stats, the whole replay record and
the MoR A/B) to BENCH/bench_last.json.

Worker mode (used by tools/run_scaling.py for the N-vs-4N-cores scaling
evidence): ``python bench.py --replay-only BINLOG_DIR EPOCHS CORES`` replays a
pre-generated binlog at the given parallelism and prints one JSON line.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), BENCH_EVENTS (default 2_000_000),
BENCH_EPOCHS (default 4).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def gen_binlog(spark, binlog_dir: str, n_events: int, n_keys: int, epochs: int) -> None:
    """Materialize the deterministic feed partitioned into epoch dirs
    (generation is excluded from replay timings)."""
    import pyspark.sql.functions as F

    from etl_spark.datagen import BinlogSpec, generate_binlog

    spec = BinlogSpec(n_events=n_events, n_keys=n_keys, max_tokens=128, n_buckets=epochs)
    df = generate_binlog(spark, spec).drop("lsn_bucket")
    span = (n_events + spec.ooo_window) // epochs + 1
    (
        df.withColumn("epoch", (F.col("delivery_pos") / span).cast("int"))
        .drop("delivery_pos")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .write.mode("overwrite")
        .partitionBy("epoch")
        .parquet(binlog_dir)
    )


def replay_binlog(spark, binlog_dir: str, epochs: int, n_events: int) -> dict:
    """Replay the binlog through epoch-fenced MERGE commits (timed)."""
    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable

    table_root = tempfile.mkdtemp(prefix="bench_table_")
    table = LakeTable.create_if_absent(spark, table_root, TARGET_SCHEMA)
    t0 = time.time()
    phases: dict[str, float] = {}
    for e in range(epochs):
        batch = spark.read.parquet(f"{binlog_dir}/epoch={e}")
        r = merge_batch(table, batch, epoch=e)
        # the merge records its phase seconds in the commit it made
        for name, sec in table.snapshot(r.snapshot_id)["summary"].get("phase_s", {}).items():
            phases[name] = round(phases.get(name, 0.0) + sec, 3)
    wall = time.time() - t0
    final_rows = table.read().count()
    shutil.rmtree(table_root, ignore_errors=True)
    return {
        "n_events": n_events,
        "epochs": epochs,
        "wall_sec": round(wall, 2),
        "events_per_sec": round(n_events / wall, 1),
        "final_rows": final_rows,
        "phase_s": phases,
    }


def run_mor_ab(spark, table_events: int = 500_000, micro_epochs: int = 8, micro_events: int = 5_000) -> dict:
    """Scaled-down CoW-vs-MoR microbatch A/B for the per-round record,
    through the A/B of tools/bench_mor.py (the full protocol)."""
    from tools.bench_mor import run_ab

    ab = run_ab(spark, table_events, micro_epochs, micro_events)
    return {
        # NOT the official protocol number: this inline A/B runs 8x5k
        # micro epochs against a 500k-row table; the official measurement
        # is tools/bench_mor.py (16x5k against 2M rows, interleaved arms)
        "protocol": "small-inline",
        "official_protocol": "tools/bench_mor.py 16x5k vs 2M rows",
        "table_events": table_events,
        "micro_epochs": micro_epochs,
        "micro_events": micro_events,
        "cow_wall_sec": ab["cow_wall_sec"],
        "mor_wall_sec": ab["mor_wall_sec"],
        "mor_speedup": ab["speedup_excl_compact"],
    }


def run_replay_bench(spark, n_events: int, n_keys: int, epochs: int) -> dict:
    """Headline replay, warm-up policy as for queries (round-4 verdict item
    2, extended to the headline in round 5): the FIRST replay of a fresh
    session carries ~2-3x of one-time cost (codegen warm-up, first parquet
    touch, JIT) that swings single-shot numbers by the VM's full noise band
    (measured 49.7 s cold vs 13.5/13.8 s on the two warm reps of the same
    binlog). The headline is therefore the MEDIAN of two timed replays after
    one discarded cold run; the cold run is reported alongside as
    ``cold_wall_sec`` so the one-time cost stays visible."""
    root = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        gen_binlog(spark, os.path.join(root, "binlog"), n_events, n_keys, epochs)
        cold = replay_binlog(spark, os.path.join(root, "binlog"), epochs, n_events)
        reps = [replay_binlog(spark, os.path.join(root, "binlog"), epochs, n_events) for _ in range(2)]
        warm_rows = [r["final_rows"] for r in reps]
        if any(n != cold["final_rows"] for n in warm_rows):
            raise RuntimeError(f"warm replay row counts {warm_rows} differ from the cold run's {cold['final_rows']}")
        out = dict(reps[0])
        out["wall_sec"] = round(sum(r["wall_sec"] for r in reps) / 2, 2)  # mean of 2 warm reps
        out["events_per_sec"] = round(n_events / out["wall_sec"], 1)
        out["warm_walls"] = [r["wall_sec"] for r in reps]
        out["cold_wall_sec"] = cold["wall_sec"]
        out["n_keys"] = n_keys
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


# console progress bars would fill the captured tail of the output, where the
# one JSON line must survive
NO_PROGRESS_BARS = {"spark.ui.showConsoleProgress": "false"}

QUERY_SUBSET = [
    "cdc_lww_dedup",
    "cdc_replay_merge",
    "cdc_schema_rename",
    "tok_vocab_encode",
    "tok_chunk",
    "tok_pack_sequences",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_lsh_topk",
    "ann_lsh_multi_topk",
    "text_word_topk",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "events_sessionize",
]


def _count_events(binlog_dir: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for dirpath, _dirs, files in os.walk(binlog_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(dirpath, fn)).num_rows
    return n


def main() -> None:
    from etl_spark.queries import query_fns
    from etl_spark.session import build_session

    if len(sys.argv) >= 2 and sys.argv[1] == "--replay-only":
        binlog_dir, epochs, cores = sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
        spark = build_session(
            app_name=f"bench-replay-{cores}",
            cores=cores,
            shuffle_partitions=cores,
            extra_conf=NO_PROGRESS_BARS,
        )
        spark.sparkContext.setLogLevel("ERROR")
        n_events = _count_events(binlog_dir)
        out = replay_binlog(spark, binlog_dir, epochs, n_events)
        out["cores"] = cores
        print(json.dumps(out))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("BENCH_EVENTS", "2000000"))
    epochs = int(os.environ.get("BENCH_EPOCHS", "4"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    spark = build_session(app_name="bench", cores=cpus, shuffle_partitions=cpus, extra_conf=NO_PROGRESS_BARS)
    spark.sparkContext.setLogLevel("ERROR")

    replay = run_replay_bench(spark, n_events=n_events, n_keys=max(1000, n_events // 20), epochs=epochs)
    mor_ab = None if os.environ.get("BENCH_SKIP_MOR") else run_mor_ab(spark)

    # noise-robust per-query timing (round-4 verdict item 2): EVERY query gets
    # one discarded warm-up rep + timed reps — the warm-up absorbs first-touch
    # costs (plan construction, file listing, page cache) that otherwise
    # inflate exactly the slow queries whose round-over-round trend we're
    # trying to read. Queries whose warm-up exceeds REP_TRIM_SEC get 2 timed
    # reps (median = mean of the pair); fast queries get 3. The old policy
    # (1 shot for slow queries) is what left the two largest round-over-round
    # movers with unreadable single-shot numbers.
    REP_TRIM_SEC = 5.0
    qstats: dict[str, dict] = {}
    fns = query_fns()
    for name in QUERY_SUBSET:
        t0 = time.time()
        fns[name](spark, sf_dir).count()
        warmup = round(time.time() - t0, 2)
        n_timed = 2 if warmup > REP_TRIM_SEC else 3
        reps: list[float] = []
        for _rep in range(n_timed):
            t0 = time.time()
            fns[name](spark, sf_dir).count()
            reps.append(round(time.time() - t0, 2))
        reps.sort()
        median = reps[1] if len(reps) == 3 else round(sum(reps) / 2, 2)
        qstats[name] = {
            "median": median,
            "min": reps[0],
            "max": reps[-1],
            "reps": len(reps),
            "warmup": warmup,
        }

    record = {
        "metric": "cdc_replay_wall_sec",
        "value": replay["wall_sec"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "events_per_sec": replay["events_per_sec"],
        # flat name -> median seconds (the stable cross-round shape;
        # round-4 ADVICE: keep `queries` flat for consumers)
        "queries": {k: v["median"] for k, v in qstats.items()},
        "phase_s": replay["phase_s"],
    }
    # the captured tail of stdout keeps the last 2,000 characters: the line
    # carries the headline only, and the full record goes to a file
    full = dict(record, queries_stats=qstats, replay=replay, mor_ab=mor_ab)
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "bench_last.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
