"""Debezium-style JSON / flat-JSON feed ingestion (streaming/formats.py).

Real CDC feeds arrive as JSON envelopes, not clean parquet. Pinned here:

- exact round-trip: canonical feed -> Debezium envelopes -> normalize ==
  original rows (token arrays included);
- the streaming tail over a JSONL binlog (both envelope shapes, and the
  Debezium files gzipped) produces a final state equal to the pandas
  oracle, exactly-once fences intact, and a rerun no-ops on the checkpoint;
- malformed lines are dropped, never crash the stream;
- the normalizers are pure Catalyst — no Python in the row path.
"""

from __future__ import annotations

import gzip
import os
import shutil

import pyspark.sql.functions as F

from etl_spark.datagen import BinlogSpec, generate_binlog, write_binlog_json
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.streaming.formats import (
    normalize_debezium,
    normalize_flat_json,
    to_debezium_json,
)
from etl_spark.streaming.tail import run_stream_replay
from etl_spark.table import LakeTable

SPEC = BinlogSpec(n_events=3000, n_keys=250, seed=77, ooo_frac=0.15, dup_frac=0.05)


def _canon(df):
    return df.orderBy("commit_lsn", "op_seq", "doc_id").collect()


def test_debezium_roundtrip_exact(spark):
    feed = generate_binlog(spark, SPEC).drop("delivery_pos", "lsn_bucket")
    back = normalize_debezium(to_debezium_json(feed))
    assert set(back.columns) == set(feed.columns)
    assert _canon(back.select(*feed.columns)) == _canon(feed)


def test_flat_json_roundtrip_exact(spark):
    feed = generate_binlog(spark, SPEC).drop("delivery_pos", "lsn_bucket")
    flat = feed.select(
        F.to_json(F.struct(*[F.col(c) for c in feed.columns])).alias("value")
    )
    back = normalize_flat_json(flat)
    assert _canon(back.select(*feed.columns)) == _canon(feed)


def test_malformed_lines_dropped_not_fatal(spark):
    feed = generate_binlog(spark, BinlogSpec(n_events=200, n_keys=50, seed=3)).drop(
        "delivery_pos", "lsn_bucket"
    )
    good = to_debezium_json(feed)
    bad = spark.createDataFrame(
        [("not json",), ("{}",), ('{"op":"x","after":{"doc_id":"k"}}',), ('{"op":"u"}',)],
        "value string",
    )
    out = normalize_debezium(good.unionByName(bad))
    assert out.count() == feed.count()  # the 4 bad lines vanished


def test_normalizers_are_pure_catalyst(spark):
    from etl_spark.functions.tokens import assert_vectorized_plan

    feed = generate_binlog(spark, BinlogSpec(n_events=100, n_keys=20, seed=5)).drop(
        "delivery_pos", "lsn_bucket"
    )
    assert_vectorized_plan(normalize_debezium(to_debezium_json(feed)))
    flat = feed.select(F.to_json(F.struct(*[F.col(c) for c in feed.columns])).alias("value"))
    assert_vectorized_plan(normalize_flat_json(flat))


def _gzip_feed_files(binlog: str) -> None:
    """Replace every feed file under ``binlog`` with its ``.gz`` copy (the
    text source decompresses by extension) and drop the checksum files."""
    for d, _, names in os.walk(binlog):
        for name in names:
            path = os.path.join(d, name)
            if name.endswith(".crc"):
                os.remove(path)
            elif name.endswith(".txt"):
                with open(path, "rb") as src, gzip.open(path + ".gz", "wb") as dst:
                    shutil.copyfileobj(src, dst)
                os.remove(path)


def _stream_replay_matches_oracle(spark, tmp_path, envelope, feed_format, gzipped=False):
    binlog = str(tmp_path / "binlog")
    write_binlog_json(spark, SPEC, binlog, envelope=envelope)
    if gzipped:
        _gzip_feed_files(binlog)
        assert any(n.endswith(".txt.gz") for _, _, names in os.walk(binlog) for n in names)
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    report = run_stream_replay(
        spark,
        binlog_dir=binlog,
        table_root=root,
        checkpoint_dir=ckpt,
        max_files_per_trigger=2,
        feed_format=feed_format,
        timeout_sec=300,
    )
    assert report.batches and all(b["applied"] for b in report.batches)
    table = LakeTable(spark, root)
    expected = replay_oracle(generate_binlog(spark, SPEC).drop("delivery_pos", "lsn_bucket").toPandas())
    got = table.read(include_hidden=True).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert_state_equal(got, expected)

    # checkpoint resume: a second run discovers nothing new and fences hold
    report2 = run_stream_replay(
        spark,
        binlog_dir=binlog,
        table_root=root,
        checkpoint_dir=ckpt,
        feed_format=feed_format,
        timeout_sec=300,
    )
    assert report2.rows_upserted == 0
    got2 = table.read(include_hidden=True).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert_state_equal(got2, expected)


def test_stream_replay_from_debezium_jsonl(spark, tmp_path):
    _stream_replay_matches_oracle(spark, tmp_path, "debezium", "debezium-json")


def test_stream_replay_from_gzipped_debezium_jsonl(spark, tmp_path):
    _stream_replay_matches_oracle(spark, tmp_path, "debezium", "debezium-json", gzipped=True)


def test_stream_replay_from_flat_jsonl(spark, tmp_path):
    _stream_replay_matches_oracle(spark, tmp_path, "flat", "json")
