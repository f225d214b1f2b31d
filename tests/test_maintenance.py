"""Compaction, tombstone expiry, and lineage coverage tests."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.lineage import coverage, lineage_df
from etl_spark.operators.merge import merge_batch
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import compact, expire_tombstones

KV_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("value_cents", LongType(), True),
        StructField("source", StringType(), True),
    ]
)


def _kv_batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, commit_lsn long, op_seq int, op string, value_cents long, source string"
    )


def _replayed_table(spark, tmp_path, epochs=4, n_events=4000, seed=7):
    spec = BinlogSpec(n_events=n_events, n_keys=400, seed=seed, tombstone_frac=0.15)
    feed = generate_binlog(spark, spec).drop("lsn_bucket").cache()
    table = LakeTable.create_if_absent(spark, str(tmp_path / "tbl"), TARGET_SCHEMA)
    span = feed.agg(F.max("delivery_pos")).collect()[0][0] // epochs + 1
    for e in range(epochs):
        batch = feed.where((F.col("delivery_pos") / span).cast("int") == e).drop("delivery_pos")
        # small target file size so commits leave several files to compact
        merge_batch(table, batch, epoch=e, target_rows_per_file=100)
    return table, feed


def test_compact_preserves_state(spark, tmp_path):
    table, feed = _replayed_table(spark, tmp_path)
    before = table.read(include_hidden=True).toPandas()
    n_files_before = len(table.files())
    sid = compact(table, small_file_rows=10_000)
    assert sid is not None
    assert len(table.files()) < n_files_before
    expected = replay_oracle(feed.drop("delivery_pos").toPandas())
    assert_state_equal(table.read(include_hidden=True).toPandas(), expected)
    assert len(before) == table.read(include_hidden=True).count()
    feed.unpersist()


def test_expire_tombstones_drops_only_below_watermark(spark, tmp_path):
    table, feed = _replayed_table(spark, tmp_path)
    hidden = table.read(include_hidden=True, include_deleted=True)
    n_tomb = hidden.where(F.col("_deleted")).count()
    assert n_tomb > 0
    hi_lsn = feed.agg(F.max("commit_lsn")).collect()[0][0]
    # watermark at the end: every tombstone expirable
    sid = expire_tombstones(table, low_watermark_lsn=hi_lsn)
    assert sid is not None
    after = table.read(include_hidden=True, include_deleted=True)
    assert after.where(F.col("_deleted")).count() == 0
    # live state unchanged
    expected = replay_oracle(feed.drop("delivery_pos").toPandas())
    assert_state_equal(table.read(include_hidden=True).toPandas(), expected)
    feed.unpersist()


def test_expire_tombstones_respects_watermark(spark, tmp_path):
    table, feed = _replayed_table(spark, tmp_path, seed=11)
    tombs = (
        table.read(include_hidden=True, include_deleted=True)
        .where(F.col("_deleted"))
        .select("_commit_lsn")
        .toPandas()["_commit_lsn"]
    )
    assert len(tombs) > 1
    mid = int(tombs.median())
    expire_tombstones(table, low_watermark_lsn=mid)
    remaining = (
        table.read(include_hidden=True, include_deleted=True)
        .where(F.col("_deleted"))
        .select("_commit_lsn")
        .toPandas()["_commit_lsn"]
    )
    assert (remaining > mid).all()
    assert len(remaining) == (tombs > mid).sum()
    feed.unpersist()


def test_expire_snapshots_keeps_head_and_ledger(spark, tmp_path):
    import os

    import pytest

    table, feed = _replayed_table(spark, tmp_path, seed=13)
    head_before = table.read(include_hidden=True).toPandas()
    old_files = [f["path"] for f in table.files(1)]
    n_fences = len(table.fences())
    table.expire_snapshots(keep_last=1)
    # head snapshot still fully readable and identical
    expected = replay_oracle(feed.drop("delivery_pos").toPandas())
    assert_state_equal(table.read(include_hidden=True).toPandas(), expected)
    assert len(head_before) == table.read(include_hidden=True).count()
    # data files referenced only by expired snapshots are gone...
    live = {f["path"] for f in table.files()}
    assert any(not os.path.exists(p) for p in old_files if p not in live)
    # ...but the fence/lineage ledger survives (metadata is never dropped)
    assert len(table.fences()) == n_fences
    assert table.is_fenced(0)
    # time travel to an expired snapshot now fails at read time
    with pytest.raises(Exception):
        table.read(sid=1).collect()
    feed.unpersist()


def test_lineage_coverage_and_fence_uniqueness(spark, tmp_path):
    table, feed = _replayed_table(spark, tmp_path)
    # replaying an already-fenced epoch must not add lineage
    n_recs = len(table.lineage())
    merge_batch(table, feed.drop("delivery_pos"), epoch=0)
    assert len(table.lineage()) == n_recs
    rep = coverage(table)
    assert rep.ok
    assert rep.epochs == 4
    # exact reconciliation: each epoch's rows_upserted must equal that
    # epoch's distinct non-delete LWW winners applied on top of prior state.
    # For epoch 0 on an empty table that is simply its winner count — guards
    # against metric double-counting (observe executed by >1 job)
    span = feed.agg(F.max("delivery_pos")).collect()[0][0] // 4 + 1
    e0 = feed.where((F.col("delivery_pos") / span).cast("int") == 0)
    from etl_spark.operators.dedup import lww_dedup

    exp_ups0 = lww_dedup(e0.drop("delivery_pos")).where(F.col("op") != "D").count()
    got_ups0 = sum(
        r["rows_upserted"] for r in table.lineage() if r["checkpoint_epoch"] == 0
    )
    assert got_ups0 == exp_ups0
    lo = feed.agg(F.min("commit_lsn")).collect()[0][0]
    hi = feed.agg(F.max("commit_lsn")).collect()[0][0]
    assert rep.lsn_lo >= lo and rep.lsn_hi <= hi
    ldf = lineage_df(table)
    assert ldf.count() == n_recs
    assert set(ldf.columns) == {
        "checkpoint_epoch", "partition_id", "lsn_min", "lsn_max", "rows_upserted", "rows_deleted",
    }
    feed.unpersist()


def test_expire_tombstones_that_empty_every_touched_file(spark, tmp_path):
    """A tombstone expiry whose rewrite keeps no row still commits — with
    no added files — and leaves no staged file behind."""
    import os

    cols = "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string"
    table = LakeTable.create_if_absent(spark, str(tmp_path / "tbl"), TARGET_SCHEMA)
    merge_batch(table, spark.createDataFrame([(f"k{i:03d}", i, 0, "U", [1], 1, "s") for i in range(50)], cols), epoch=0)
    merge_batch(
        table, spark.createDataFrame([(f"k{i:03d}", 100 + i, 0, "D", None, None, None) for i in range(50)], cols), epoch=1
    )
    assert table.read().count() == 0 and table.files()
    head = table.head_id()
    sid = expire_tombstones(table, low_watermark_lsn=1_000)
    assert sid == head + 1
    assert table.files() == [] and table.snapshot(sid)["summary"]["maintenance"] == "expire_tombstones"
    referenced = {f["path"] for s in table.snapshots() for f in s["files"]}
    on_disk = {
        os.path.join(d, fn) for d, _, fns in os.walk(table.data_dir) for fn in fns if fn.endswith(".parquet")
    }
    assert on_disk <= referenced, sorted(on_disk - referenced)


def test_expire_tombstones_closes_over_the_key_bucket(spark, tmp_table_dir):
    """On a bucket table, expiring a merge-on-read tombstone rewrites the
    winners file that holds it and only the files that hold the key's
    bucket: every other file keeps its path, and the key stays dead."""
    table = LakeTable.create_if_absent(
        spark, tmp_table_dir, KV_SCHEMA, layout={"type": "bucket", "n_buckets": 4}
    )
    merge_batch(table, _kv_batch(spark, [(f"k{i:03d}", i + 1, 0, "U", i, "s") for i in range(200)]), epoch=0)
    merge_batch(table, _kv_batch(spark, [("k042", 1_000, 0, "D", None, None)]), epoch=1, merge_mode="mor")
    files = table.files()
    (winners,) = [f for f in files if f.get("mor")]
    (bucket,) = winners["buckets"]
    closure = {f["path"] for f in files if bucket in f["buckets"]}
    outside = {f["path"] for f in files} - closure
    assert outside, "test needs files outside the key's bucket"
    assert expire_tombstones(table, low_watermark_lsn=1_000) is not None
    after = {f["path"] for f in table.files()}
    assert outside <= after and not closure & after
    assert table.read().where("doc_id = 'k042'").count() == 0
    assert table.read().count() == 199
    assert table.read(include_hidden=True, include_deleted=True).where("_deleted").count() == 0


def test_diff_suppresses_expired_tombstones(spark, tmp_table_dir):
    """dead -> physically-gone (expire_tombstones between the snapshots) is
    not a state change; CDC consumers must not receive a duplicate delete.
    A RE-deleted key (new delete event) still reports."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, KV_SCHEMA)
    merge_batch(
        table,
        _kv_batch(spark, [("a", 1, 0, "U", 1, "s"), ("b", 2, 0, "U", 2, "s"), ("c", 3, 0, "U", 3, "s")]),
        epoch=0,
    )
    # delete 'a' -> tombstone row persisted
    merge_batch(table, _kv_batch(spark, [("a", 4, 0, "D", None, None)]), epoch=1)
    s_a = table.head_id()
    # expire the tombstone (low watermark above its lsn), then touch 'b'
    expire_tombstones(table, low_watermark_lsn=4)
    merge_batch(table, _kv_batch(spark, [("b", 5, 0, "U", 22, "s")]), epoch=2)
    s_b = table.head_id()
    changes = {r["doc_id"]: r["change_op"] for r in table.diff(s_a, s_b).collect()}
    # 'a' was already dead at s_a: its physical disappearance must NOT re-report 'D'
    assert changes == {"b": "U"}
    # but a re-delete by a NEW event still reports
    merge_batch(table, _kv_batch(spark, [("c", 6, 0, "D", None, None)]), epoch=3)
    s_c = table.head_id()
    changes2 = {r["doc_id"]: r["change_op"] for r in table.diff(s_b, s_c).collect()}
    assert changes2 == {"c": "D"}


# ------------------------------------ maintenance vs concurrent writers


def test_compaction_refuses_after_concurrent_merge(spark, tmp_table_dir, monkeypatch):
    """Compaction-vs-writer conflict (the hole Iceberg's rewrite validation
    exists for): a MERGE that lands between a compaction's planning read
    and its commit must make the compaction REFUSE — otherwise the rewrite
    re-adds rows it copied from files the merge just replaced, silently
    undoing the merge. The staged debris is cleaned and a retry succeeds."""
    import pytest

    from etl_spark.table.maintenance import gc_orphans
    from etl_spark.table.table import TableCommitError

    table = LakeTable.create_if_absent(spark, tmp_table_dir, KV_SCHEMA)
    rows = [(f"k{i:03d}", i + 1, 0, "U", i, "s") for i in range(40)]
    merge_batch(table, _kv_batch(spark, rows), epoch=0, target_rows_per_file=10)

    orig_commit = LakeTable.commit
    state = {"injected": False}

    def racy_commit(self, *a, **kw):
        if not state["injected"] and kw.get("summary", {}).get("maintenance") == "compact":
            state["injected"] = True
            other = LakeTable(spark, tmp_table_dir)
            merge_batch(other, _kv_batch(spark, [("k001", 99999, 0, "U", -1, "w")]), epoch=1)
        return orig_commit(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit", racy_commit)
    with pytest.raises(TableCommitError):
        compact(table, small_file_rows=1 << 60)
    monkeypatch.undo()
    assert state["injected"]

    t2 = LakeTable(spark, tmp_table_dir)
    got = {r["doc_id"]: r["value_cents"] for r in t2.read().collect()}
    assert got["k001"] == -1 and len(got) == 40  # the merge survived intact
    assert gc_orphans(t2) == []  # failed compaction cleaned its stage
    # retry against the new head succeeds and preserves the merge
    assert compact(t2, small_file_rows=1 << 60) is not None
    assert {r["doc_id"]: r["value_cents"] for r in t2.read().collect()} == got
