"""Key-range pruned reads, snapshot diff and the two read executors
(table/table.py read side)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.merge import merge_batch
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable


def _table(spark, tmp_path, epochs=2, n_events=3000, n_keys=300, seed=53):
    feed = generate_binlog(spark, BinlogSpec(n_events=n_events, n_keys=n_keys, seed=seed)).drop(
        "lsn_bucket"
    ).cache()
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    hi = feed.agg(F.max("delivery_pos")).collect()[0][0]
    span = hi // epochs + 1
    for e in range(epochs):
        merge_batch(
            table,
            feed.where((F.col("delivery_pos") / span).cast("int") == e).drop("delivery_pos"),
            epoch=e,
            target_rows_per_file=50,  # force several files -> real pruning
        )
    return table, feed


def test_read_range_equals_filtered_full_read(spark, tmp_path):
    table, feed = _table(spark, tmp_path)
    lo, hi = "doc_00000010", "doc_00000050"
    full = {
        r["doc_id"]: r["n_tok"]
        for r in table.read().where((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)).collect()
    }
    pruned = {r["doc_id"]: r["n_tok"] for r in table.read_range(lo, hi).collect()}
    assert pruned == full and len(pruned) > 0
    feed.unpersist()


def test_read_range_prunes_files(spark, tmp_path):
    table, feed = _table(spark, tmp_path)
    n_files = len(table.files())
    assert n_files > 4
    # a narrow range must scan fewer files than the table holds
    snap = table.snapshot()
    lo, hi = "doc_00000010", "doc_00000020"
    touched = [
        f
        for f in snap["files"]
        if f["min_key"] is None or not (f["min_key"] > hi or f["max_key"] < lo)
    ]
    assert len(touched) < n_files
    feed.unpersist()


def test_diff_reports_only_changed_keys(spark, tmp_path):
    table, feed = _table(spark, tmp_path, epochs=2)
    d = table.diff(1, 2)
    got = {r["doc_id"]: r["change_op"] for r in d.collect()}
    # expected: keys whose winning (lsn, seq) differs between the halves
    s1 = {
        r["doc_id"]: (r["_commit_lsn"], r["_op_seq"])
        for r in table.read(sid=1, include_hidden=True, include_deleted=True).collect()
    }
    s2 = {
        r["doc_id"]: (r["_commit_lsn"], r["_op_seq"], r["_deleted"])
        for r in table.read(sid=2, include_hidden=True, include_deleted=True).collect()
    }
    expected = {}
    for k, (lsn, seq, dead) in s2.items():
        if k not in s1 or s1[k] != (lsn, seq):
            expected[k] = "D" if dead else "U"
    assert got == expected and len(got) > 0
    feed.unpersist()


def test_diff_identity_is_empty(spark, tmp_path):
    table, feed = _table(spark, tmp_path, epochs=1)
    assert table.diff(1, 1).count() == 0
    feed.unpersist()


READER_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("value", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def _reader_table(spark, root: str, layout: str, monkeypatch) -> LakeTable:
    """A table whose files span three schema versions — a rename (source ->
    origin), then an added column (score) with a widened type (value int ->
    bigint) — under a mask backlog with tombstones, written by CoW, driver
    MoR and Spark MoR epochs. ``layout`` "half" is a bucket(4) table whose
    migration to the range layout ran its begin and one of two stages."""
    import etl_spark.operators.merge as merge
    from etl_spark.table.maintenance import migrate_layout_staged

    bucket4 = {"type": "bucket", "n_buckets": 4}
    table = LakeTable.create_if_absent(spark, root, READER_SCHEMA, layout=None if layout == "range" else bucket4)
    cols = {"value": "int", "source": "string"}

    def epoch(e, upserts, deletes=(), mode="mor", **kwargs):
        ddl = ", ".join(["doc_id string, commit_lsn long, op_seq int, op string"] + [f"{c} {t}" for c, t in cols.items()])
        payload = {"value": e, "source": f"s{e}", "origin": f"o{e}", "score": -e}
        rows = [(f"k{i:05d}", 1_000 * e + i, 0, "U", *(payload[c] for c in cols)) for i in upserts]
        rows += [(f"k{i:05d}", 1_000 * e + i, 0, "D", *(None for _ in cols)) for i in deletes]
        r = merge_batch(table, spark.createDataFrame(rows, ddl), epoch=e, merge_mode=mode, **kwargs)
        assert r.mode == mode

    epoch(0, range(400), mode="cow", target_rows_per_file=100)
    epoch(1, [10, 130, 370], deletes=[250])
    table.update_schema(renames={"source": "origin"})
    cols = {"value": "int", "origin": "string"}
    with monkeypatch.context() as mp:
        mp.setattr(merge, "DRIVER_MAX_TOUCHED_ROWS", 0)
        epoch(2, [50, 60, 140], deletes=[80])
    if layout == "half":
        stages = migrate_layout_staged(
            table, {"type": "range"}, max_files_per_stage=-(-len(table.files()) // 2), max_stages=1
        )
        assert len(stages["stages"]) == 1 and not stages["done"]
    table.update_schema(add_columns=[("score", "int")], widen={"value": "bigint"})
    cols = {"value": "bigint", "origin": "string", "score": "int"}
    epoch(3, [200], mode="cow")
    # a newer winners file of 84 rows masks k00060, k00140 and the k00080
    # tombstone
    epoch(4, [7, 60, 80, *range(120, 200)], deletes=[300])
    epoch(5, [5])
    return table


@pytest.mark.parametrize("layout", ["range", "bucket", "half"], ids=["range", "bucket(4)", "half_migrated"])
def test_local_read_equals_spark_read(spark, tmp_table_dir, monkeypatch, layout):
    """``read_files_local`` returns what ``load_files`` reads — every column
    with the hidden ones, tombstone rows and the Arrow schema — on the whole
    table, on a small-file subset under a newer winners file outside it,
    and on one file, across a rename, an added column and a widened type.
    On the bucket table the read plan prunes a winners file whose buckets
    miss the loaded set."""
    table = _reader_table(spark, tmp_table_dir, layout, monkeypatch)
    snap = table.snapshot()
    files = snap["files"]
    newer = max((f for f in files if f.get("mor") and f["rows"] > 10), key=lambda f: f["added_at"])
    small = [f for f in files if f["rows"] <= 10 and f["added_at"] < newer["added_at"]]
    assert small
    oldest = sorted(files, key=lambda f: (f["added_at"], f["path"]))[0]
    for entries in (files, small, [oldest]):
        local = table.read_files_local(entries, snap).sort_by([("doc_id", "ascending"), ("_commit_lsn", "ascending")])
        spark_read = table.load_files(entries, snap).toArrow()
        spark_read = spark_read.sort_by([("doc_id", "ascending"), ("_commit_lsn", "ascending")])
        assert local.schema == spark_read.schema
        assert local.to_pylist() == spark_read.to_pylist()
    # the newer winners file outside the subset masks rows inside it
    assert table.read_files_local(small, snap).num_rows < sum(f["rows"] for f in small)
    assert {r["doc_id"] for r in table.read_files_local(files, snap).to_pylist() if r["_deleted"]} >= {"k00250"}
    if layout == "bucket":
        pairs = [
            (f, m)
            for m in files
            if m.get("mor")
            for f in files
            if m["added_at"] > f["added_at"]
            and set(f["buckets"]).isdisjoint(m["buckets"])
            and m["min_key"] <= f["max_key"]
            and m["max_key"] >= f["min_key"]
        ]
        assert pairs
        for f, m in pairs:
            _, _, mask = table._read_plan([f], snap)
            assert mask is None or m["path"] not in {g["path"] for g in mask[0]}
