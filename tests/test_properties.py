"""Property-style invariants of the CDC apply (SURVEY.md §5.4).

The LWW fold is a commutative-associative max over the (commit_lsn, op_seq)
total order, so the final table state must be invariant to how the delivery
stream is sliced into epochs and to delivery order. These tests replay the
SAME feed under different epoch partitionings and assert identical final
states (cheap, deterministic stand-in for full hypothesis permutation
testing, which would re-run Spark hundreds of times).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.merge import merge_batch
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable


def _final_state(spark, tmp_path, name, feed, splitter, epochs):
    table = LakeTable.create_if_absent(spark, str(tmp_path / name), TARGET_SCHEMA)
    for e in range(epochs):
        merge_batch(table, feed.where(splitter(e)), epoch=e)
    return table


def test_final_state_invariant_to_epoch_partitioning(spark, tmp_path):
    spec = BinlogSpec(n_events=3000, n_keys=300, seed=17, ooo_frac=0.3, tombstone_frac=0.1)
    feed = generate_binlog(spark, spec).drop("lsn_bucket").cache()
    hi_pos = feed.agg(F.max("delivery_pos")).collect()[0][0]

    # slicing A: by delivery position (stream order), 4 epochs
    span = hi_pos // 4 + 1
    t_a = _final_state(
        spark, tmp_path, "a", feed, lambda e: (F.col("delivery_pos") / span).cast("int") == e, 4
    )
    # slicing B: by key hash (pathological: each epoch sees a key subset), 3 epochs
    t_b = _final_state(
        spark, tmp_path, "b", feed, lambda e: F.pmod(F.xxhash64("doc_id"), F.lit(3)) == e, 3
    )
    # slicing C: everything in one epoch
    t_c = _final_state(spark, tmp_path, "c", feed, lambda e: F.lit(True), 1)

    expected = replay_oracle(feed.drop("delivery_pos").toPandas())
    for t in (t_a, t_b, t_c):
        assert_state_equal(t.read(include_hidden=True).toPandas(), expected)
    feed.unpersist()


def test_final_state_invariant_to_resolve_strategy(spark, tmp_path, monkeypatch):
    """The resolve with its narrow sides hinted for broadcast must equal the
    unhinted resolve exactly, across multiple epochs. Every batch here is
    under MAX_BROADCAST_ROWS, so the unhinted plan is forced by patching the
    bound to 0."""
    from etl_spark.operators import merge

    spec = BinlogSpec(n_events=3000, n_keys=250, seed=29, tombstone_frac=0.12)
    feed = generate_binlog(spark, spec).drop("lsn_bucket").cache()
    hi_pos = feed.agg(F.max("delivery_pos")).collect()[0][0]
    span = hi_pos // 3 + 1
    expected = replay_oracle(feed.drop("delivery_pos").toPandas())
    for strategy, bound in (("unhinted", 0), ("hinted", merge.MAX_BROADCAST_ROWS)):
        monkeypatch.setattr(merge, "MAX_BROADCAST_ROWS", bound)
        table = LakeTable.create_if_absent(spark, str(tmp_path / strategy), TARGET_SCHEMA)
        for e in range(3):
            batch = feed.where((F.col("delivery_pos") / span).cast("int") == e).drop("delivery_pos")
            merge_batch(table, batch, epoch=e)
        assert_state_equal(table.read(include_hidden=True).toPandas(), expected)
    feed.unpersist()


def test_final_state_invariant_to_salting(spark, tmp_path):
    spec = BinlogSpec(n_events=3000, n_keys=50, seed=23, skew=4.0, tombstone_frac=0.1)
    feed = generate_binlog(spark, spec).drop("lsn_bucket", "delivery_pos").cache()
    t_plain = LakeTable.create_if_absent(spark, str(tmp_path / "plain"), TARGET_SCHEMA)
    merge_batch(t_plain, feed, epoch=0)
    t_salted = LakeTable.create_if_absent(spark, str(tmp_path / "salted"), TARGET_SCHEMA)
    merge_batch(t_salted, feed, epoch=0, use_salted_dedup=True)
    expected = replay_oracle(feed.toPandas())
    assert_state_equal(t_plain.read(include_hidden=True).toPandas(), expected)
    assert_state_equal(t_salted.read(include_hidden=True).toPandas(), expected)
    feed.unpersist()
