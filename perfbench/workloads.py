"""The benchmark's workloads, driven through the public API of ``etl_spark``.

Each run: set up SETUP_REPS times (session, inputs, seeded table) and keep
the last; one cold pass; warm passes (at least one, more while
``--seconds`` have not passed since the first began, at most ``max_warm``);
a read phase of full scans and point lookups on the final table; the
correctness gate. A traced run makes at least three warm passes and traces
every second one, so the same run yields the per-layer numbers and, against
the untraced passes on either side, the tracing overhead.

The run's wall is what the sizes below trade against: the benchmark is run
about 22 times per workload in a fixed time budget. So the read phases,
whose metrics are not gated, are short.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import feed as FG
import measure as M
import oracle

SETUP_REPS = 3
# Reads of the read phase that warm the JIT and are not timed, before the
# timed ones
SCANS_WARMUP = 1
LOOKUPS_WARMUP = 1
SEED_EPOCH = 1_000_000  # fence id of the seeding merge, clear of stream batch ids

# Sizes per workload. Bulk epochs hold more distinct keys than the merge's
# fast-path cap (FAST_PATH_MAX_KEYS = 50,000), so they take bulk planning.
SIZES = {
    "bulk_backfill": {
        "epochs": 2,
        "events_per_epoch": 60_000,
        "n_keys": 1_000_000,
        "scans": 3,
        "lookups": 4,
        "max_warm": 3,
    },
    # The seeded table holds well over 8x a file's distinct keys, so `auto`
    # picks MoR. Compaction runs once the backlog reaches max_mor_files =
    # files_per_pass; the cold pass lands cold_files, so every warm pass
    # sheds the backlog once and ends with cold_files MoR files of debt,
    # the state the read phase measures.
    "microbatch_tail": {
        "seed_events": 16_000,
        "n_keys": 20_000,
        "cold_files": 2,
        # five epochs a pass, so that the median epoch latency is not decided
        # by one epoch or by the one that pays the compaction
        "files_per_pass": 5,
        "max_mor_files": 5,
        "events_per_file": 1_000,
        "bad_every": 2,
        "scans": 2,
        "lookups": 2,
        # a pass takes longer than --seconds, so an untraced run makes one
        "max_warm": 1,
    },
}


@dataclass
class Stats:
    """Samples and counters of one run."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str, sizes: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.tag = f"{workload}-s{seed}-t{int(trace)}"
        self.work = os.path.join(root, ".perfbench", "work", f"{self.tag}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench", "out")
        self.stats = Stats()
        self.tracer = M.Tracer(self.tag) if trace else None
        self.spark = None
        self.tracing = False  # inside a traced pass
        self.min_warm = 3 if trace else 1
        self.info: dict = {}
        self.jobs: list[dict] = []
        self.progress_records: list[dict] = []

    # ------------------------------------------------------------ session

    def start_session(self):
        from etl_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = {
            # a small heap keeps the JVM's resident peak close to its cap
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.tag}", master="local[4]", cores=4, shuffle_partitions=8, extra_conf=conf
        )
        self.stats.add("session.start_s", time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --------------------------------------------------------------- reads

    def lookup_keys(self, n_keys: int, count: int) -> list[str]:
        """LOOKUPS_WARMUP keys for the warm-up, then half hot keys (the
        lowest ids, where the skew puts most updates) and half keys drawn
        uniformly over the keyspace."""
        rng = np.random.default_rng([self.seed, 7])
        hot = list(range(count // 2))
        cold = rng.integers(0, n_keys, LOOKUPS_WARMUP + count - len(hot)).tolist()
        return [f"doc_{k:08d}" for k in cold[:LOOKUPS_WARMUP] + hot + cold[LOOKUPS_WARMUP:]]

    def read_phase(self, table, expected: pa.Table, keys: list[str]) -> None:
        """Full scans forced over the token payload, then single-key
        lookups; every result is checked against the expected state."""
        import pyspark.sql.functions as F

        want = (expected.num_rows, oracle.token_total(expected))
        for i in range(SCANS_WARMUP + self.sizes["scans"]):
            with self.span("table.scan"):
                t0 = time.perf_counter()
                row = table.read().agg(F.count(F.lit(1)), F.sum(F.size("tokens"))).collect()[0]
                dt = time.perf_counter() - t0
            self.stats.check((row[0], row[1] or 0) == want, f"scan returned {tuple(row)}, expected {want}")
            if i >= SCANS_WARMUP:
                self.stats.add("scan_s", dt)
        exp_rows = oracle.rows_by_key(expected, keys)
        for i, key in enumerate(keys):
            with self.span("table.lookup"):
                t0 = time.perf_counter()
                rows = table.read_range(key, key).collect()
                dt = time.perf_counter() - t0
            got = [(r["doc_id"], list(r["tokens"]), r["n_tok"], r["source"]) for r in rows]
            e = exp_rows[key]
            self.stats.check(got == ([] if e is None else [e]), f"lookup {key}: {got[:1]} != {e}")
            if i >= LOOKUPS_WARMUP:
                self.stats.add("lookup_ms", dt * 1000.0)

    def span(self, name: str):
        """A span when inside a traced pass, else nothing."""
        if self.tracer is not None and self.tracing:
            return self.tracer.span(name)
        return contextlib.nullcontext({})

    # ---------------------------------------------------------------- gate

    def gate(self, table, expected: pa.Table) -> None:
        from etl_spark import lineage

        actual = table.read(include_hidden=True).toArrow()
        extra, missing = oracle.mismatches(actual, expected)
        self.stats.check(
            extra == 0 and missing == 0,
            f"final state: {extra} engine rows not expected, {missing} expected rows missing",
        )
        self.stats.check(lineage.coverage(table).ok, "lineage coverage: an epoch was applied twice")
        self.info["live_rows"] = expected.num_rows
        live = table.files()
        self.info["stored_bytes_per_live_row"] = sum(os.path.getsize(f["path"]) for f in live) / max(
            expected.num_rows, 1
        )
        self.info["live_files"] = len(live)
        self.info["mor_files"] = sum(1 for f in live if f.get("mor"))
        head = table.head_id()
        self.info["manifest_bytes"] = os.path.getsize(os.path.join(table.meta_dir, f"commit-{head:010d}.json"))

    # ------------------------------------------------------------- driving

    def execute(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # keep every file the run writes inside the checkout: Python's and the
        # JVMs' temp files (the launcher JVM of spark-submit included), and
        # no JVM perf-data file in the system temp dir
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp"
        try:
            wl = WORKLOADS[self.workload](self)
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                self.start_session()
                wl.setup(os.path.join(self.work, f"rep{rep}"))
                self.stats.add("setup_s", time.perf_counter() - t0)
                if rep < SETUP_REPS - 1:
                    shutil.rmtree(os.path.join(self.work, f"rep{rep}"), ignore_errors=True)
            self.stats.add("cold_ingest_s", wl.ingest_pass(0, warm=False))
            t_end = time.perf_counter() + self.seconds
            n = 0
            while n < self.min_warm or (n < self.sizes["max_warm"] and time.perf_counter() < t_end):
                n += 1
                self.tracing = self.trace and n % 2 == 0
                if self.tracing:
                    wl.install_wrappers()
                try:
                    wall = wl.ingest_pass(n, warm=True)
                    self.stats.add("traced_pass_s" if self.tracing else "warm_pass_s", wall)
                finally:
                    if self.tracing:
                        wl.uninstall_wrappers()
                if self.tracing:
                    for batch in wl.batches(n):
                        wl.dedup_probe(batch)
                self.tracing = False
            self.info["warm_passes"] = n
            self.tracing = self.trace
            wl.read_phase()
            self.tracing = False
            wl.finish()
            progress = getattr(wl, "progress", None)
            self.progress_records = progress.records if progress is not None else []
            self.stats.add("peak_rss_mb", M.peak_rss_mb())
        finally:
            self.stop()
        if self.trace:
            self.jobs = M.spark_jobs(M.read_event_log(os.path.join(self.work, "eventlog")))
        shutil.rmtree(self.work, ignore_errors=True)


class _Workload:
    def __init__(self, run: Run):
        self.run = run
        self.spark = None

    def write_bytes_of(self, root: str, before: dict[str, int], events: int) -> None:
        after = M.data_files(root)
        new = sum(size for p, size in after.items() if p not in before)
        self.run.stats.add("written_bytes_per_event", new / events)

    def dedup_probe(self, batch) -> None:
        """Traced only, after the traced pass: the LWW dedup of one epoch's
        input on its own, from a cached copy of the input, forced by a noop
        write; with the share of rows it keeps."""
        from etl_spark.operators.dedup import lww_dedup

        batch = batch.cache()
        n_in = batch.count()
        with self.run.tracer.span("dedup.exec") as sp:
            lww_dedup(batch).write.format("noop").mode("overwrite").save()
        sp["keep_ratio"] = lww_dedup(batch).count() / max(n_in, 1)
        batch.unpersist()

    def _record_merge(self, sp: dict, res) -> None:
        sp.update(mode=res.mode, files_rewritten=res.files_rewritten, files_added=res.files_added)

    def install_common_wrappers(self) -> None:
        from etl_spark.table import LakeTable, maintenance

        tr = self.run.tracer
        tr.wrap(LakeTable, "commit", "table.commit")
        tr.wrap(LakeTable, "load_files", "table.load_files")
        tr.wrap(maintenance, "compact_mor", "maint.compact")

    def uninstall_wrappers(self) -> None:
        self.run.tracer.unwrap_all()


class BulkBackfill(_Workload):
    """Fresh range-layout table; a few bulk epochs through
    ``merge_batch(merge_mode="auto")``: CoW, bulk planning join, sort-merge
    resolve, range write. Each pass goes into a fresh table."""

    def setup(self, d: str) -> None:
        s = self.run.sizes
        self.dir = d
        self.spark = self.run.spark
        spec = FG.FeedSpec(n_events=s["epochs"] * s["events_per_epoch"], n_keys=s["n_keys"], seed=self.run.seed)
        self.parts = FG.split(FG.generate(spec), s["epochs"])
        self.paths = [FG.write_parquet(p, os.path.join(d, "feed", f"epoch-{k}.parquet")) for k, p in enumerate(self.parts)]
        self.events = sum(p.num_rows for p in self.parts)
        self.expected = oracle.lww_fold(self.parts)
        self.keys = self.run.lookup_keys(s["n_keys"], s["lookups"])

    def install_wrappers(self) -> None:
        from etl_spark.operators import merge

        self.install_common_wrappers()
        self.run.tracer.wrap(merge, "merge_batch", "merge.call", after=self._record_merge)

    def batches(self, k: int) -> list:
        return [self.spark.read.parquet(p) for p in self.paths]

    def ingest_pass(self, k: int, warm: bool) -> float:
        from etl_spark.operators import merge
        from etl_spark.schema import TARGET_SCHEMA
        from etl_spark.table import LakeTable

        root = os.path.join(self.dir, f"table-{k}")
        t0 = time.perf_counter()
        table = LakeTable.create_if_absent(self.spark, root, TARGET_SCHEMA)
        for e, path in enumerate(self.paths):
            te = time.perf_counter()
            res = merge.merge_batch(table, self.spark.read.parquet(path), epoch=e, merge_mode="auto")
            if warm:
                self.run.stats.add("epoch_s", time.perf_counter() - te)
            self.run.stats.check(res.applied, f"bulk epoch {e} was not applied")
        wall = time.perf_counter() - t0
        if warm:
            self.write_bytes_of(root, {}, self.events)
            self.run.stats.add("events_per_s", self.events / wall)
        self.table = table
        return wall

    def read_phase(self) -> None:
        self.run.read_phase(self.table, self.expected, self.keys)

    def finish(self) -> None:
        self.run.gate(self.table, self.expected)


class MicrobatchTail(_Workload):
    """A bulk-seeded table, then a Debezium-JSON feed of small files drained
    by the streaming tail one file per trigger (closed loop: AvailableNow
    starts the next batch only after the previous commit), with inline MoR
    compaction. Each pass lands the next files and drains them; the read
    phase then reads the table under merge-on-read debt."""

    def setup(self, d: str) -> None:
        from etl_spark.operators.merge import merge_batch
        from etl_spark.schema import TARGET_SCHEMA
        from etl_spark.table import LakeTable

        s = self.run.sizes
        self.dir = d
        self.spark = self.run.spark
        # files for the passes this run can make, and no more: writing them
        # is part of every set-up
        n_files = s["cold_files"] + s["files_per_pass"] * max(s["max_warm"], self.run.min_warm)
        seed_feed = FG.generate(FG.FeedSpec(n_events=s["seed_events"], n_keys=s["n_keys"], seed=self.run.seed))
        tail_feed = FG.generate(
            FG.FeedSpec(
                n_events=n_files * s["events_per_file"],
                n_keys=s["n_keys"],
                seed=self.run.seed,
                lsn_offset=10 * s["seed_events"],
            )
        )
        self.files = FG.split(tail_feed, n_files)
        self.staging = os.path.join(d, "staging")
        FG.write_debezium_files(self.files, self.staging, s["bad_every"])
        self.binlog = os.path.join(d, "binlog")
        os.makedirs(self.binlog, exist_ok=True)
        self.ckpt = os.path.join(d, "checkpoint")
        self.landed: list[pa.Table] = [seed_feed]
        self.bad_landed = 0
        seed_path = FG.write_parquet(seed_feed, os.path.join(d, "seed.parquet"))
        self.table = LakeTable.create_if_absent(self.spark, os.path.join(d, "table"), TARGET_SCHEMA)
        merge_batch(self.table, self.spark.read.parquet(seed_path), epoch=SEED_EPOCH, merge_mode="auto")
        self.keys = self.run.lookup_keys(s["n_keys"], s["lookups"])
        self.progress = M.StreamProgress()

    def install_wrappers(self) -> None:
        from etl_spark.streaming import tail

        self.install_common_wrappers()
        self.run.tracer.wrap(tail, "merge_batch", "merge.call", after=self._record_merge)
        self.spark.streams.addListener(self.progress.listener)

    def uninstall_wrappers(self) -> None:
        self.run.tracer.unwrap_all()
        self.spark.streams.removeListener(self.progress.listener)

    def pass_files(self, k: int) -> range:
        s = self.run.sizes
        if k == 0:
            return range(s["cold_files"])
        return range(s["cold_files"] + (k - 1) * s["files_per_pass"], s["cold_files"] + k * s["files_per_pass"])

    def batches(self, k: int) -> list:
        from etl_spark.streaming.formats import normalize_debezium

        return [
            normalize_debezium(self.spark.read.text(os.path.join(self.binlog, f"lsn_bucket={i}")))
            for i in self.pass_files(k)
        ]

    def land(self, k: int) -> int:
        """Move the k-th pass's files into the tailed directory; returns the
        events they hold (bad lines excluded)."""
        s = self.run.sizes
        events = 0
        for i in self.pass_files(k):
            name = f"lsn_bucket={i}"
            os.rename(os.path.join(self.staging, name), os.path.join(self.binlog, name))
            self.landed.append(self.files[i])
            events += self.files[i].num_rows
            self.bad_landed += len(FG.BAD_LINES) if FG.is_bad_file(i, s["bad_every"]) else 0
        return events

    def ingest_pass(self, k: int, warm: bool) -> float:
        from etl_spark.streaming.tail import run_stream_replay

        events = self.land(k)
        head0 = self.table.head_id()
        before = M.data_files(self.table.root)
        t0 = time.perf_counter()
        with self.run.span("tail.drain"):
            report = run_stream_replay(
                self.spark,
                self.binlog,
                self.table.root,
                self.ckpt,
                max_files_per_trigger=1,
                feed_format="debezium-json",
                auto_compact_mor=True,
                max_mor_files=self.run.sizes["max_mor_files"],
                timeout_sec=170,
            )
        wall = time.perf_counter() - t0
        n_files = len(self.pass_files(k))
        self.run.stats.check(
            len(report.batches) == n_files and all(b["applied"] for b in report.batches),
            f"pass {k}: {len(report.batches)} batches for {n_files} files",
        )
        if warm:
            self.write_bytes_of(self.table.root, before, events)
            self.run.stats.add("events_per_s", events / wall)
            self.epoch_latencies(head0)
        return wall

    def epoch_latencies(self, head0: int) -> None:
        """Closed-loop epoch latency from the table's own commit files: the
        time from one epoch's commit to the next one's (the first epoch of a
        pass also pays the query start, so it is left out)."""
        commits = []
        for sid in range(head0 + 1, self.table.head_id() + 1):
            summary = self.table.snapshot(sid).get("summary", {})
            path = os.path.join(self.table.meta_dir, f"commit-{sid:010d}.json")
            if "epoch" in summary:
                commits.append(os.stat(path).st_mtime_ns / 1e9)
        for a, b in zip(commits, commits[1:]):
            self.run.stats.add("epoch_s", b - a)

    def read_phase(self) -> None:
        self.expected = oracle.lww_fold(self.landed)
        self.run.read_phase(self.table, self.expected, self.keys)

    def finish(self) -> None:
        from etl_spark.streaming.formats import normalize_debezium

        raw = self.spark.read.text(self.binlog)
        lines_in = raw.count()
        rows_out = normalize_debezium(raw).count()
        self.run.info["formats"] = {
            "lines_in": lines_in,
            "rows_out": rows_out,
            "rows_dropped": lines_in - rows_out,
            "injected": self.bad_landed,
        }
        self.run.stats.check(
            lines_in - rows_out == self.bad_landed,
            f"normalizer dropped {lines_in - rows_out} lines, {self.bad_landed} were injected",
        )
        self.run.gate(self.table, self.expected)


WORKLOADS = {"bulk_backfill": BulkBackfill, "microbatch_tail": MicrobatchTail}
