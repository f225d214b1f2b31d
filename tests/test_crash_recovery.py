"""Crash-between-stage-and-commit recovery: staged files are invisible,
readers are unaffected, and gc_orphans removes the debris."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.merge import merge_batch
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import gc_orphans


def test_crashed_write_is_invisible_and_collectable(spark, tmp_path):
    feed = generate_binlog(spark, BinlogSpec(n_events=2000, n_keys=200, seed=41)).drop(
        "lsn_bucket", "delivery_pos"
    ).cache()
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, feed, epoch=0)
    before = table.read(include_hidden=True).toPandas()

    # simulate a write that crashed after staging, before commit: stage dir
    # with parquet files exists, but no snapshot references it
    stage = table.stage_dir(table.head_id() + 1)
    feed.limit(50).write.mode("overwrite").parquet(stage)
    assert any(f.endswith(".parquet") for f in os.listdir(stage))

    # readers see only committed state
    expected = replay_oracle(feed.toPandas())
    assert_state_equal(table.read(include_hidden=True).toPandas(), expected)
    assert len(before) == table.read(include_hidden=True).count()

    removed = gc_orphans(table)
    assert removed and all("s0000000002" in p or stage in p for p in removed)
    assert not os.path.exists(stage) or not os.listdir(stage)
    # committed data untouched
    assert_state_equal(table.read(include_hidden=True).toPandas(), expected)
    feed.unpersist()


def test_failed_epoch_releases_cached_batch_and_stage(spark, tmp_path, monkeypatch):
    """An epoch that fails after caching its deduped batch — here the CoW
    target read raises, as on a missing data file — propagates the error,
    leaves the session's cache as it found it and no stage directory
    behind, and does not move HEAD: a streaming tail that keeps running
    after failed epochs must not accumulate cached batches."""
    feed = generate_binlog(spark, BinlogSpec(n_events=1000, n_keys=100, seed=53)).drop(
        "lsn_bucket", "delivery_pos"
    )
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, feed, epoch=0)
    head, stages = table.head_id(), sorted(os.listdir(table.data_dir))
    jsc = spark.sparkContext._jsc
    cached = jsc.getPersistentRDDs().size()

    def missing_file(self, *args, **kwargs):
        raise FileNotFoundError("data file vanished")

    monkeypatch.setattr(LakeTable, "load_files", missing_file)
    with pytest.raises(FileNotFoundError, match="vanished"):
        merge_batch(table, feed, epoch=1, merge_mode="cow")
    assert jsc.getPersistentRDDs().size() == cached
    assert sorted(os.listdir(table.data_dir)) == stages
    assert table.head_id() == head and not table.is_fenced(1)


def test_gc_orphans_noop_on_clean_table(spark, tmp_path):
    feed = generate_binlog(spark, BinlogSpec(n_events=500, n_keys=50, seed=43)).drop(
        "lsn_bucket", "delivery_pos"
    )
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, feed, epoch=0)
    assert gc_orphans(table) == []
    assert table.read().count() > 0


def test_resume_after_simulated_crash_between_epochs(spark, tmp_path):
    """Epoch applied, crash (new LakeTable handle = new process), stage
    debris present — replaying the SAME epoch no-ops on the fence and the
    next epoch applies normally."""
    feed = generate_binlog(spark, BinlogSpec(n_events=2000, n_keys=200, seed=47)).drop(
        "lsn_bucket", "delivery_pos"
    ).cache()
    half = feed.agg(F.max("commit_lsn")).collect()[0][0] // 2
    e0 = feed.where(F.col("commit_lsn") <= half)
    e1 = feed.where(F.col("commit_lsn") > half)

    root = str(tmp_path / "t")
    table = LakeTable.create_if_absent(spark, root, TARGET_SCHEMA)
    merge_batch(table, e0, epoch=0)
    e0.limit(10).write.mode("overwrite").parquet(table.stage_dir(99))  # crash debris

    table2 = LakeTable(spark, root)  # "restarted process"
    r = merge_batch(table2, e0, epoch=0)
    assert not r.applied
    r2 = merge_batch(table2, e1, epoch=1)
    assert r2.applied
    expected = replay_oracle(feed.toPandas())
    assert_state_equal(table2.read(include_hidden=True).toPandas(), expected)
    feed.unpersist()


# ------------------------------------------------ HEAD recovery monotonic


def test_recover_head_never_moves_backwards(spark, tmp_table_dir, monkeypatch):
    """Race from ADVICE r2: writer B recovered head=4 from a stale HEAD read
    while writer A already committed 5 and wrote HEAD=5; B's delayed write
    must NOT set HEAD back to 4."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    for sid in range(1, 6):
        table.commit(add_files=[], summary={"n": sid})
    assert table.head_id() == 5

    # Simulate B's stale view: first head_id() read returns 3, and the scan
    # cannot see commit-5 yet (A's commit lands "between" B's scan and write).
    real_head_id = LakeTable.head_id
    real_commit_path = LakeTable._commit_path
    state = {"head_reads": 0, "hid_5": True}

    def stale_head_id(self):
        state["head_reads"] += 1
        return 3 if state["head_reads"] == 1 else real_head_id(self)

    def hidden_commit_path(self, sid):
        p = real_commit_path(self, sid)
        if sid == 5 and state["hid_5"]:
            state["hid_5"] = False  # A's commit becomes visible after this probe
            return p + ".not-yet-visible"
        return p

    monkeypatch.setattr(LakeTable, "head_id", stale_head_id)
    monkeypatch.setattr(LakeTable, "_commit_path", hidden_commit_path)
    got = table._recover_head()
    monkeypatch.undo()
    assert got == 5
    with open(os.path.join(table.meta_dir, "HEAD")) as f:
        assert f.read().strip() == "5"  # never rewritten to 4
