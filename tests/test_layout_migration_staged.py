"""Staged (multi-commit, resumable) layout migration — round-4 verdict item 4.

``maintenance.migrate_layout_staged`` replaces the single-commit full rewrite
with: one metadata-only BEGIN commit (descriptor flip + ``layout_stale`` tag
on every live file), then bounded STAGE commits rewriting a few stale files
each. Pinned here:

- replay INTERLEAVED with a staged migration equals the pandas oracle, with
  correct reads at every intermediate snapshot;
- kill/resume: an invocation bounded by ``max_stages`` leaves a correct,
  resumable table; re-invoking completes the migration;
- the old-modulus hazard: bucket(8) -> bucket(4) mid-migration leaves files
  whose bucket tags were computed under modulus 8 — they must be planned by
  RANGE, never by those tags (a stale tag read under the new modulus would
  silently skip touched files and let stale events win);
- MoR debt mid-migration: winners-file masks keep applying while their
  victims are migrated stage by stage;
- foreground CoW merges progress the migration (touched stale files come
  out in the new layout).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.merge import merge_batch
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import compact_mor, migrate_layout_staged

BUCKET4 = {"type": "bucket", "n_buckets": 4}
BUCKET8 = {"type": "bucket", "n_buckets": 8}

SPEC = BinlogSpec(n_events=6000, n_keys=400, seed=33, skew=2.0, ooo_frac=0.15, dup_frac=0.08)


def _batches(feed, n_batches):
    span = feed.agg(F.max("delivery_pos")).collect()[0][0] + 1
    per = span // n_batches + 1
    return [
        feed.where(
            (F.col("delivery_pos") >= i * per) & (F.col("delivery_pos") < (i + 1) * per)
        ).drop("delivery_pos", "lsn_bucket")
        for i in range(n_batches)
    ]


def _state(table):
    return table.read(include_hidden=True).toPandas().sort_values("doc_id").reset_index(drop=True)


def _stale(table):
    return [f for f in table.files() if f.get("layout_stale")]


def test_staged_migration_interleaved_with_replay_matches_oracle(spark, tmp_path):
    feed = generate_binlog(spark, SPEC)
    feed.cache().count()
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())
    batches = _batches(feed, 6)

    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=200)
    merge_batch(table, batches[1], epoch=1, target_rows_per_file=200)
    n_files_before = len(table.files())
    assert n_files_before > 2

    # begin + one bounded stage: table is now MID-migration
    rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=1)
    assert rep["begin"] is not None and not rep["done"] and rep["stale_remaining"] > 0
    assert table.layout() == BUCKET4
    # mid-migration read must already be correct
    mid_expected = replay_oracle(batches[0].unionByName(batches[1]).toPandas())
    assert_state_equal(_state(table), mid_expected)

    # interleave replay epochs with migration stages
    merge_batch(table, batches[2], epoch=2, target_rows_per_file=200)
    rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=2, max_stages=1)
    merge_batch(table, batches[3], epoch=3, target_rows_per_file=200)
    merge_batch(table, batches[4], epoch=4, target_rows_per_file=200)
    rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=4)
    assert rep["done"] and not _stale(table)
    merge_batch(table, batches[5], epoch=5, target_rows_per_file=200)

    assert_state_equal(_state(table), expected)
    # fully conforming: every live file carries current-modulus bucket tags
    for f in table.files():
        assert f.get("buckets") and not f.get("layout_stale"), f
        assert all(0 <= b < 4 for b in f["buckets"]), f


def test_staged_migration_resume_after_kill(spark, tmp_path):
    feed = generate_binlog(spark, SPEC)
    batches = _batches(feed, 2)
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=150)
    merge_batch(table, batches[1], epoch=1, target_rows_per_file=150)

    rep1 = migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=2)
    assert not rep1["done"] and len(rep1["stages"]) == 2
    # "kill": nothing persisted beyond the manifest; a NEW handle resumes
    table2 = LakeTable(spark, str(tmp_path / "t"))
    rep2 = migrate_layout_staged(table2, BUCKET4, max_files_per_stage=4)
    assert rep2["begin"] is None, "resume must not re-begin"
    assert rep2["done"] and not _stale(table2)
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())
    assert_state_equal(_state(table2), expected)
    # idempotent once done
    rep3 = migrate_layout_staged(table2, BUCKET4)
    assert rep3 == {"begin": None, "stages": [], "done": True, "stale_remaining": 0}


def test_old_modulus_bucket_tags_never_drive_planning(spark, tmp_path):
    """bucket(8) -> bucket(4) staged: mid-migration files keep 8-modulus
    tags. A stale event for a key in such a file must still LOSE (pre-fix
    shape: tag-based pruning under the new modulus misses the file, the
    stale event plans as a fresh insert and wins)."""
    feed = generate_binlog(spark, SPEC)
    feed.cache().count()
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA, layout=BUCKET8)
    full = feed.drop("delivery_pos", "lsn_bucket")
    merge_batch(table, full, epoch=0, target_rows_per_file=150)
    expected = replay_oracle(full.toPandas())

    rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=1)
    assert not rep["done"]
    stale = _stale(table)
    # the hazard needs a stale file whose 8-modulus tags include a bucket
    # id >= 4: interpreted under the new modulus it can never match a batch
    # bucket, so tag-driven planning would silently skip the file. (Tags
    # < 4 are accidentally harmless for a halved modulus: pmod(x,8)=b < 4
    # implies pmod(x,4)=b.)
    hazardous = [f for f in stale if f.get("min_key") and any(b >= 4 for b in f.get("buckets", []))]
    assert hazardous, f"no stale file with old-modulus tags >= 4: {stale}"

    # stale (lower-lsn) events for keys currently living in such a file
    some = hazardous[0]
    hazard_tags = [b for b in some["buckets"] if b >= 4]
    victim_keys = [
        r["doc_id"]
        for r in table.read()
        .where(F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int").isin(hazard_tags))
        .select("doc_id")
        .limit(5)
        .collect()
    ]
    assert victim_keys
    stale_events = spark.createDataFrame(
        [(k, -1, 0, "U", [0], 1, "stale") for k in victim_keys],
        "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
    )
    merge_batch(table, stale_events, epoch=1)
    assert_state_equal(_state(table), expected)  # stale events all lost

    # and mid-migration reads/merges stay correct through completion
    migrate_layout_staged(table, BUCKET4, max_files_per_stage=8)
    assert_state_equal(_state(table), expected)


def test_mor_debt_survives_staged_migration(spark, tmp_path):
    feed = generate_binlog(spark, BinlogSpec(n_events=4000, n_keys=300, seed=7))
    feed.cache().count()
    batches = _batches(feed, 2)
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=150)
    # a forced-MoR epoch leaves winners files + masked victims
    merge_batch(table, batches[1], epoch=1, merge_mode="mor")
    assert any(f.get("mor") for f in table.files())
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())
    assert_state_equal(_state(table), expected)

    # migrate one file at a time; state must hold at every intermediate
    while True:
        rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=1)
        assert_state_equal(_state(table), expected)
        if rep["done"]:
            break
    assert not _stale(table)


def test_streaming_tail_concurrent_with_staged_migration(spark, tmp_path):
    """The flagship path under live contention: the Structured Streaming
    tail applies epoch-fenced microbatches while a background thread drives
    the staged migration on the SAME SparkSession (concurrent writers, the
    round-4 ADVICE scenario the depth-counted conf scoping exists for).
    Both must land: every epoch fenced exactly once, migration completes,
    final state equals the oracle."""
    import threading

    from etl_spark.datagen import write_binlog
    from etl_spark.streaming.tail import run_stream_replay

    spec = BinlogSpec(n_events=4000, n_keys=300, seed=55, n_buckets=8)
    binlog = str(tmp_path / "binlog")
    write_binlog(spark, spec, binlog)
    root = str(tmp_path / "t")

    # seed the table multi-file so the migration has work to interleave
    table = LakeTable.create_if_absent(spark, root, TARGET_SCHEMA)
    seed_feed = generate_binlog(spark, BinlogSpec(n_events=2000, n_keys=300, seed=56, lsn_offset=-100_000))
    seed = seed_feed.drop("delivery_pos", "lsn_bucket")
    seed_pd = seed.toPandas()
    merge_batch(table, seed, epoch=999_000, target_rows_per_file=100)

    stop = threading.Event()
    migration_error: list = []

    def migrate_loop():
        t2 = LakeTable(spark, root)
        try:
            import time as _time

            while not stop.is_set():
                rep = migrate_layout_staged(t2, BUCKET4, max_files_per_stage=1, max_stages=1, max_retries=50)
                if rep["done"]:
                    _time.sleep(0.2)  # fully migrated for now; poll for new stale files
        except Exception as e:  # surfaced below — a thread must not die silently
            migration_error.append(e)

    mt = threading.Thread(target=migrate_loop)
    mt.start()
    try:
        report = run_stream_replay(
            spark,
            binlog_dir=binlog,
            table_root=root,
            checkpoint_dir=str(tmp_path / "ckpt"),
            max_files_per_trigger=2,
            timeout_sec=300,
        )
    finally:
        stop.set()
        mt.join(timeout=120)
    assert not migration_error, migration_error
    assert report.batches and all(b["applied"] for b in report.batches)

    # drain the migration to done after the stream stops
    final = migrate_layout_staged(LakeTable(spark, root), BUCKET4, max_retries=20)
    assert final["done"] and not _stale(table)
    assert LakeTable(spark, root).layout() == BUCKET4

    import pandas as pd

    feed_pd = generate_binlog(spark, spec).drop("delivery_pos", "lsn_bucket").toPandas()
    expected = replay_oracle(pd.concat([seed_pd, feed_pd], ignore_index=True))
    assert_state_equal(_state(table), expected)
    # every streamed epoch fenced exactly once
    t3 = LakeTable(spark, root)
    epochs = [b["epoch"] for b in report.batches]
    assert len(set(epochs)) == len(epochs)
    for e in epochs:
        assert t3.is_fenced(e)


def test_time_travel_into_mid_migration_snapshots(spark, tmp_path):
    """Snapshots captured mid-migration stay readable AFTER the migration
    completes (old files persist until expire_snapshots): read(sid) at a
    half-migrated snapshot equals the state at that time, and diff() across
    the migration window reports only real changes, not rewrite traffic."""
    feed = generate_binlog(spark, BinlogSpec(n_events=4000, n_keys=300, seed=19))
    feed.cache().count()
    batches = _batches(feed, 2)
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=150)
    expected_mid = replay_oracle(batches[0].toPandas())

    migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=2)
    sid_mid = table.head_id()  # half-migrated snapshot
    merge_batch(table, batches[1], epoch=1)
    migrate_layout_staged(table, BUCKET4)
    assert not _stale(table)

    # time travel to the mid-migration snapshot
    got_mid = (
        table.read(sid_mid, include_hidden=True).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert_state_equal(got_mid, expected_mid)
    # the changelog across the migration window holds ONLY batch-1 winners:
    # stage rewrites (pure file moves) contribute no change rows
    diff = table.diff(sid_mid, table.head_id())
    changed_keys = {r["doc_id"] for r in diff.select("doc_id").collect()}
    b1 = replay_oracle(batches[1].toPandas())
    b1_all = set(batches[1].select("doc_id").distinct().toPandas()["doc_id"])
    assert changed_keys <= b1_all
    assert set(b1["doc_id"]) <= changed_keys | set(expected_mid["doc_id"])


def test_expire_after_migration_reclaims_old_layout_files(spark, tmp_path):
    """After a staged migration completes, expire_snapshots physically
    reclaims every pre-migration (old-layout) data file — the 100-TB
    storage story: the migration's 2x footprint is transient — while the
    head snapshot stays fully readable and oracle-correct."""
    import os as _os

    feed = generate_binlog(spark, BinlogSpec(n_events=3000, n_keys=250, seed=61))
    feed.cache().count()
    full = feed.drop("delivery_pos", "lsn_bucket")
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, full, epoch=0, target_rows_per_file=120)
    old_paths = {f["path"] for f in table.files()}
    assert len(old_paths) >= 3

    migrate_layout_staged(table, BUCKET4, max_files_per_stage=2)
    assert not _stale(table)
    # old-layout files still on disk (time travel) until expiry
    assert all(_os.path.exists(p) for p in old_paths)

    table.expire_snapshots(keep_last=1)
    assert not any(_os.path.exists(p) for p in old_paths), "old-layout files must be reclaimed"
    # head still reads perfectly
    expected = replay_oracle(full.toPandas())
    assert_state_equal(_state(table), expected)
    assert all(_os.path.exists(f["path"]) for f in table.files())


def test_compact_mor_on_half_migrated_table_with_stale_winners(spark, tmp_path):
    """compact_mor over a half-migrated bucket table whose MoR debt spans
    both a stale winners file (written under the range layout) and a
    current one: the closure prunes current-tagged files by bucket and
    stale parties by key range, and the result equals the LWW fold."""
    feed = generate_binlog(spark, BinlogSpec(n_events=4000, n_keys=300, seed=7))
    feed.cache().count()
    batches = _batches(feed, 3)
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=150)
    merge_batch(table, batches[1], epoch=1, merge_mode="mor")
    rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=1)
    assert not rep["done"]
    merge_batch(table, batches[2], epoch=2, merge_mode="mor")
    files = table.files()
    assert [f for f in files if f.get("mor") and f.get("layout_stale")], "needs a stale winners file"
    assert [f for f in files if f.get("mor") and not f.get("layout_stale") and f.get("buckets")]
    assert_state_equal(_state(table), expected)

    assert compact_mor(table) is not None
    assert not any(f.get("mor") for f in table.files())
    assert_state_equal(_state(table), expected)
    migrate_layout_staged(table, BUCKET4, max_files_per_stage=8)
    assert not _stale(table)
    assert_state_equal(_state(table), expected)


def test_stage_retries_after_concurrent_writer_conflict(spark, tmp_path):
    """A merge committing between a stage's plan and its commit trips the
    expect_parent pin; the stage must replan against the new head and
    succeed (bounded retries), with both the merge and the migration
    surviving."""
    feed = generate_binlog(spark, BinlogSpec(n_events=3000, n_keys=200, seed=11))
    feed.cache().count()
    batches = _batches(feed, 2)
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=150)

    from etl_spark.table import maintenance as maint

    real_rewrite = maint._rewrite
    conflicts = {"n": 0}

    def racing_rewrite(table_, snap, entries, summary, keep=None):
        if conflicts["n"] == 0:
            conflicts["n"] += 1
            # concurrent writer lands AFTER this stage planned its snapshot
            merge_batch(table, batches[1], epoch=1, target_rows_per_file=150)
        return real_rewrite(table_, snap, entries, summary, keep)

    maint._rewrite = racing_rewrite
    try:
        rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=4)
    finally:
        maint._rewrite = real_rewrite
    assert rep["done"] and conflicts["n"] == 1
    assert not _stale(table)
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())
    assert_state_equal(_state(table), expected)


def test_begin_commit_retries_after_concurrent_writer(spark, tmp_path):
    """Review finding r5: the BEGIN commit must replan on a concurrent
    writer's conflict exactly like stage commits do (pre-fix it raised
    TableCommitError straight out of migrate_layout_staged)."""
    feed = generate_binlog(spark, BinlogSpec(n_events=2000, n_keys=150, seed=71))
    feed.cache().count()
    batches = _batches(feed, 2)
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, batches[0], epoch=0, target_rows_per_file=150)

    real_commit = table.commit
    raced = {"n": 0}

    def racing_commit(*a, **kw):
        if raced["n"] == 0 and kw.get("summary", {}).get("phase") == "begin":
            raced["n"] += 1
            # concurrent merge lands between the begin's snapshot and commit
            merge_batch(LakeTable(spark, str(tmp_path / "t")), batches[1], epoch=1)
        return real_commit(*a, **kw)

    table.commit = racing_commit
    try:
        rep = migrate_layout_staged(table, BUCKET4, max_files_per_stage=8)
    finally:
        table.commit = real_commit
    assert raced["n"] == 1 and rep["done"] and rep["begin"] is not None
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())
    assert_state_equal(_state(table), expected)


def test_staged_bucket_migration_does_not_explode_file_count(spark, tmp_path):
    """Review finding r5: a bucket-target stage must size its output by the
    DATA (whole buckets grouped into few files, tagged with bucket sets),
    not write n_buckets near-empty files per stage — a 1000-file table
    staged into bucket(64) would otherwise multiply its file count ~8x."""
    feed = generate_binlog(spark, BinlogSpec(n_events=3000, n_keys=250, seed=73))
    full = feed.drop("delivery_pos", "lsn_bucket")
    full.cache().count()
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, full, epoch=0, target_rows_per_file=60)
    n_in = len(table.files())
    assert n_in >= 4

    rep = migrate_layout_staged(table, {"type": "bucket", "n_buckets": 64}, max_files_per_stage=2)
    assert rep["done"]
    files = table.files()
    # each stage's rows fit one target file -> about one output per stage
    assert len(files) <= len(rep["stages"]) + 1, (len(files), len(rep["stages"]))
    # files carry multi-bucket SETS covering the keyspace; pruning stays exact
    covered = set()
    for f in files:
        assert f.get("buckets") and not f.get("layout_stale")
        covered.update(f["buckets"])
    assert all(0 <= b < 64 for b in covered)
    expected = replay_oracle(full.toPandas())
    assert_state_equal(_state(table), expected)
    # exact bucket pruning still holds: a point update touches only files
    # whose bucket set contains the key's bucket
    some_key = expected["doc_id"].iloc[0]
    r = merge_batch(
        table,
        spark.createDataFrame(
            [(some_key, 10_000_000, 0, "U", [1], 1, "poke")],
            "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
        ),
        epoch=2,
    )
    assert r.applied


def test_maintenance_storm_preserves_state(spark, tmp_path):
    """Deterministic pseudo-random interleave of replay epochs, staged
    migrations (range -> bucket -> back to range), MoR epochs, and
    compactions — the state must equal the cumulative oracle after EVERY
    step (the storm a long-lived 100-TB table actually lives through)."""
    import random

    from etl_spark.table.maintenance import compact, compact_mor

    rng = random.Random(99)
    feed = generate_binlog(spark, BinlogSpec(n_events=6000, n_keys=350, seed=41, ooo_frac=0.2))
    feed.cache().count()
    batches = _batches(feed, 8)
    pd_batches = [b.toPandas() for b in batches]

    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    applied: list = []
    targets = [BUCKET4, {"type": "range"}, BUCKET8]
    t_idx = 0
    current_target = None
    for e, batch in enumerate(batches):
        mode = rng.choice(["auto", "mor", "cow"])
        merge_batch(table, batch, epoch=e, merge_mode=mode, target_rows_per_file=200)
        applied.append(pd_batches[e])
        # one random maintenance action between epochs
        act = rng.choice(["stage", "begin", "compact", "compact_mor", "none"])
        if act == "begin" or (act == "stage" and current_target is None):
            current_target = targets[t_idx % len(targets)]
            t_idx += 1
            migrate_layout_staged(table, current_target, max_files_per_stage=1, max_stages=1)
        elif act == "stage":
            rep = migrate_layout_staged(table, current_target, max_files_per_stage=2, max_stages=1)
            if rep["done"]:
                current_target = None
        elif act == "compact":
            compact(table, small_file_rows=500)
        elif act == "compact_mor":
            compact_mor(table)
        import pandas as pd

        expected = replay_oracle(pd.concat(applied, ignore_index=True))
        assert_state_equal(_state(table), expected)
    # drain any in-flight migration and re-assert
    if current_target is not None:
        migrate_layout_staged(table, current_target)
        assert not _stale(table)
        import pandas as pd

        assert_state_equal(_state(table), replay_oracle(pd.concat(applied, ignore_index=True)))


_MIGRATOR = """
import os, sys, time
sys.path.insert(0, {repo!r})
table_dir, barrier = sys.argv[1], sys.argv[2]
from etl_spark.session import build_session
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import migrate_layout_staged

spark = build_session(app_name="migrator", master="local[2]", shuffle_partitions=4,
                      extra_conf={{"spark.ui.enabled": "false"}})
table = LakeTable(spark, table_dir)
open(f"{{barrier}}.readyM", "w").close()
while not os.path.exists(barrier):
    time.sleep(0.05)
rep = migrate_layout_staged(table, {{"type": "bucket", "n_buckets": 4}},
                            max_files_per_stage=1, max_retries=20)
print(f"RESULT done={{rep['done']}} stages={{len(rep['stages'])}}")
spark.stop()
"""

_RACER = """
import os, sys, time
sys.path.insert(0, {repo!r})
table_dir, barrier = sys.argv[1], sys.argv[2]
from etl_spark.session import build_session
from etl_spark.operators.merge import merge_batch
from etl_spark.table import LakeTable, TableCommitError

spark = build_session(app_name="racer", master="local[2]", shuffle_partitions=4,
                      extra_conf={{"spark.ui.enabled": "false"}})
rows = [(f"doc_{{i:08d}}", 10_000_000 + i, 0, "U", None, 1, "racer") for i in range(40)]
batch = spark.createDataFrame(
    rows, "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string")
table = LakeTable(spark, table_dir)
open(f"{{barrier}}.readyW", "w").close()
while not os.path.exists(barrier):
    time.sleep(0.05)
r = merge_batch(table, batch, epoch=77)
print(f"RESULT applied={{r.applied}} ups={{r.rows_upserted}}")
spark.stop()
"""


def test_cross_process_migration_races_writer(spark, tmp_path):
    """TWO real OS processes — one driving the staged migration, one merging
    an epoch — race on one table through the filesystem CAS. Both must land
    exactly once: the migration completes (all files conforming bucket4),
    the merge's 40 rows survive with fences intact, and the final state is
    the oracle of everything applied."""
    import subprocess
    import sys as _sys
    import time as _time

    feed = generate_binlog(spark, BinlogSpec(n_events=3000, n_keys=250, seed=13))
    feed.cache().count()
    full = feed.drop("delivery_pos", "lsn_bucket")
    root = str(tmp_path / "t")
    table = LakeTable.create_if_absent(spark, root, TARGET_SCHEMA)
    merge_batch(table, full, epoch=0, target_rows_per_file=80)
    assert len(table.files()) >= 4

    repo = __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__)))
    barrier = str(tmp_path / "go")
    scripts = []
    for name, src, tag in (("m.py", _MIGRATOR, "M"), ("w.py", _RACER, "W")):
        p = tmp_path / name
        p.write_text(src.format(repo=repo))
        scripts.append((str(p), tag))
    import os as _os

    env = {**_os.environ, "PYTHONUNBUFFERED": "1"}
    procs = [
        subprocess.Popen(
            [_sys.executable, s, root, barrier],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            env=env,
            text=True,
        )
        for s, _tag in scripts
    ]
    deadline = _time.time() + 300
    while _time.time() < deadline and not all(
        _os.path.exists(f"{barrier}.ready{t}") for t in ("M", "W")
    ):
        _time.sleep(0.2)
        if any(p.poll() is not None for p in procs):
            break
    open(barrier, "w").close()
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert procs[0].returncode == 0 and "done=True" in outs[0], outs[0][-3000:]
    assert procs[1].returncode == 0 and "applied=True" in outs[1], outs[1][-3000:]

    t2 = LakeTable(spark, root)
    assert t2.layout() == BUCKET4
    assert not [f for f in t2.files() if f.get("layout_stale")]
    import pandas as pd

    racer_pd = pd.DataFrame(
        [(f"doc_{i:08d}", 10_000_000 + i, 0, "U", None, 1, "racer") for i in range(40)],
        columns=["doc_id", "commit_lsn", "op_seq", "op", "tokens", "n_tok", "source"],
    )
    expected = replay_oracle(pd.concat([full.toPandas(), racer_pd], ignore_index=True))
    assert_state_equal(_state(t2), expected)
    assert t2.is_fenced(77) and t2.is_fenced(0)


def test_foreground_cow_merge_progresses_migration(spark, tmp_path):
    feed = generate_binlog(spark, SPEC)
    feed.cache().count()
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    full = feed.drop("delivery_pos", "lsn_bucket")
    merge_batch(table, full, epoch=0, target_rows_per_file=150)

    migrate_layout_staged(table, BUCKET4, max_files_per_stage=1, max_stages=0)
    n_stale0 = len(_stale(table))
    assert n_stale0 == len(table.files())

    # a bulk CoW touching everything re-emits files in the NEW layout
    bump = full.withColumn("commit_lsn", F.col("commit_lsn") + 1_000_000)
    merge_batch(table, bump, epoch=1)
    assert len(_stale(table)) < n_stale0
    expected = replay_oracle(full.toPandas().assign(commit_lsn=lambda d: d.commit_lsn + 1_000_000))
    assert_state_equal(_state(table), expected)
