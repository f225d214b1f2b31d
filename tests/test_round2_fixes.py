"""Round-2 hardening: commit-conflict retry, distributed pack_sequences,
Catalyst chunker parity, connected-components convergence guard, and the
batch-proportional merge file-count estimate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_spark.operators import merge as merge_mod
from etl_spark.operators.merge import merge_batch
from etl_spark.table import LakeTable
from etl_spark.table.table import TableCommitError

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("value_cents", LongType(), True),
        StructField("source", StringType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, commit_lsn long, op_seq int, op string, value_cents long, source string"
    )


# ---------------------------------------------------- commit-conflict retry


def test_merge_retries_after_concurrent_commit(spark, tmp_table_dir, monkeypatch):
    """A concurrent writer lands between merge planning and commit: the
    commit CAS refuses (stale expect_parent), the merge replans against the
    new head and retries — both writers' data lands exactly once."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("a", 1, 0, "U", 10, "s")]), epoch=0)

    orig_commit = LakeTable.commit
    state = {"injected": False}

    def racy_commit(self, *args, **kwargs):
        if not state["injected"] and kwargs.get("expect_parent") is not None:
            state["injected"] = True
            other = LakeTable(spark, tmp_table_dir)
            orig_commit(other, add_files=[], summary={"writer": "other"})
        return orig_commit(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "commit", racy_commit)
    r = merge_batch(table, _batch(spark, [("b", 2, 0, "U", 20, "s")]), epoch=1)
    assert r.applied and r.rows_upserted == 1
    got = {x["doc_id"]: x["value_cents"] for x in table.read().collect()}
    assert got == {"a": 10, "b": 20}
    # the failed attempt's lineage must appear exactly once
    epochs = [rec["checkpoint_epoch"] for rec in table.lineage()]
    assert epochs.count(1) == 1


def test_merge_conflict_retries_exhaust(spark, tmp_table_dir, monkeypatch):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    orig_commit = LakeTable.commit

    def always_racy(self, *args, **kwargs):
        if kwargs.get("expect_parent") is not None:
            other = LakeTable(spark, tmp_table_dir)
            orig_commit(other, add_files=[], summary={"writer": "other"})
        return orig_commit(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "commit", always_racy)
    monkeypatch.setattr(merge_mod, "MAX_COMMIT_RETRIES", 2)
    with pytest.raises(TableCommitError):
        merge_batch(table, _batch(spark, [("a", 1, 0, "U", 1, "s")]), epoch=0)


def test_stale_expect_parent_refused(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    head = table.head_id()
    table.commit(add_files=[], summary={})
    with pytest.raises(TableCommitError):
        table.commit(add_files=[], expect_parent=head)


# -------------------------------------------------- distributed pack/chunk


def test_pack_sequences_matches_single_window_reference(spark):
    from pyspark.sql import Window

    from etl_spark.functions.tokens import pack_sequences

    df = spark.range(500).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.sequence(F.lit(1), (F.col("id") % 37 + 1).cast("int")).cast("array<int>").alias("tokens"),
    )
    got = {
        r["pack_id"]: (r["n_docs"], r["total_tokens"], tuple(r["doc_ids"]))
        for r in pack_sequences(df, budget=100).collect()
    }
    # reference: the exact single-window global cumsum
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = (
        df.select("doc_id", F.size("tokens").alias("n"))
        .withColumn("cum", F.sum("n").over(w))
        .withColumn("pack_id", F.floor((F.col("cum") - F.col("n")) / 100).cast("int"))
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
    )
    want = {r["pack_id"]: (r["n_docs"], r["total_tokens"], tuple(r["doc_ids"])) for r in ref.collect()}
    assert got == want


def test_pack_sequences_plan_has_no_global_window(spark):
    """The data-bearing cumsum must be a window PARTITIONED by the range
    partition (`_part`), never an unpartitioned global window (which Spark
    plans as `windowspecdefinition(doc_id ASC ...)` over an Exchange
    SinglePartition of the whole dataset). The only single-partition window
    allowed is the offsets one over the ≤ parallelism per-partition totals."""
    from etl_spark.functions.tokens import pack_sequences

    df = spark.range(100).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.sequence(F.lit(1), F.lit(5)).cast("array<int>").alias("tokens"),
    )
    plan = pack_sequences(df, budget=64)._jdf.queryExecution().executedPlan().toString()
    # old formulation: global window keyed only on doc_id
    assert "windowspecdefinition(doc_id" not in plan
    # new formulation: the data window is partitioned by _part
    assert "windowspecdefinition(_part" in plan


@pytest.mark.parametrize("seq_len,stride", [(8, 8), (8, 4), (4, 8), (16, 16)])
def test_chunk_catalyst_matches_arrow_kernel(spark, seq_len, stride):
    from etl_spark.functions.tokens import chunk_for_training, chunk_for_training_arrow

    df = spark.range(200).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.sequence(F.lit(0), (F.col("id") % 41).cast("int")).cast("array<int>").alias("tokens"),
    )
    key = lambda r: (r["doc_id"], r["chunk_id"])  # noqa: E731
    got = {key(r): (tuple(r["tokens"]), r["n_tok"]) for r in chunk_for_training(df, seq_len, stride).collect()}
    want = {
        key(r): (tuple(r["tokens"]), r["n_tok"])
        for r in chunk_for_training_arrow(df, seq_len, stride).collect()
    }
    assert got == want


def test_chunk_catalyst_plan_is_jvm_only(spark):
    from etl_spark.functions.tokens import chunk_for_training

    df = spark.range(10).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.sequence(F.lit(0), F.lit(99)).cast("array<int>").alias("tokens"),
    )
    plan = chunk_for_training(df, 32, 32)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_chunk_count_formula_matches_reference_loop():
    """Property check (pure Python, exhaustive over a grid): the Catalyst
    kernel's closed-form chunk ids — 0..min(ceil((n-L)/S), ceil(n/S)-1) for
    n > L, else the single chunk 0 — equal the imperative chunking loop's
    emissions for every (n, seq_len, stride) combination. A zero-length doc
    emits ZERO chunks (the SQL oracle's range(ceil(n/S)) contract — both
    engine kernels filter n == 0 out)."""

    def loop_chunks(n: int, seq_len: int, stride: int) -> list[int]:
        if n == 0:
            return []
        if n <= seq_len:
            return [0]
        out, cid = [], 0
        for start in range(0, n, stride):
            if n - start <= 0:
                break
            out.append(cid)
            cid += 1
            if start + seq_len >= n:
                break
        return out

    def formula_chunks(n: int, seq_len: int, stride: int) -> list[int]:
        if n == 0:
            return []
        if n <= seq_len:
            return [0]
        k_tail = (n - seq_len + stride - 1) // stride
        k_last_nonempty = (n + stride - 1) // stride - 1
        return list(range(min(k_tail, k_last_nonempty) + 1))

    for n in range(0, 120):
        for seq_len in range(1, 40, 3):
            for stride in range(1, 50, 3):
                assert formula_chunks(n, seq_len, stride) == loop_chunks(n, seq_len, stride), (
                    n,
                    seq_len,
                    stride,
                )


def test_rename_then_readd_old_name(spark, tmp_table_dir):
    """Field-id identity: after value_cents -> amount_cents, a NEW column
    may reuse the name value_cents. Old files' physical value_cents column
    must surface as amount_cents (same field id), while the re-added
    value_cents reads NULL for pre-evolution rows."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("a", 1, 0, "U", 777, "s")]), epoch=0)
    table.rename_column("value_cents", "amount_cents")
    table.update_schema(add_columns=[("value_cents", "bigint")])
    row = table.read().collect()[0]
    assert row["amount_cents"] == 777
    assert row["value_cents"] is None
    # and a new write fills both independently
    e1 = spark.createDataFrame(
        [("b", 2, 0, "U", 100, 200, "s")],
        "doc_id string, commit_lsn long, op_seq int, op string, amount_cents long, value_cents long, source string",
    )
    merge_batch(table, e1, epoch=1)
    got = {r["doc_id"]: (r["amount_cents"], r["value_cents"]) for r in table.read().collect()}
    assert got == {"a": (777, None), "b": (100, 200)}


# --------------------------------------------------------- runtime guards


def test_connected_components_rejects_zero_rounds(spark):
    from etl_spark.operators.components import connected_components

    vertices = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_rounds"):
        connected_components(vertices, edges, max_rounds=0)


def test_connected_components_raises_when_unconverged(spark):
    from etl_spark.operators.components import connected_components

    n = 12
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_rounds=2)


# ---------------------------------------------------- multi-table ANN LSH


def test_lsh_multi_recall_dominates_single_table(spark):
    """OR-amplification: the T-table candidate set contains table 0's, so
    top-k recall vs the brute-force oracle can only improve; and the
    (n_tables up, n_planes down) knob trades join fan-out for recall.

    Absolute recall on these uniform-random embeddings is structurally low
    at 8 planes (true top-3 neighbors sit at ~65-70 deg; per-plane collision
    ~0.6 -> ~0.6^8 per table) — the knob, not the default, is what must
    deliver: 8 tables x 4 planes reaches >0.5 recall (deterministic planes
    + deterministic data => exact measured 0.559)."""
    from etl_spark.operators.similarity import brute_force_topk, lsh_topk, lsh_topk_multi

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r["vec_id"], r["neighbor_id"]) for r in brute_force_topk(emb, k=3).collect()}
    single = {(r["vec_id"], r["neighbor_id"]) for r in lsh_topk(emb, k=3).collect()}
    multi = {(r["vec_id"], r["neighbor_id"]) for r in lsh_topk_multi(emb, k=3, n_tables=3).collect()}
    wide = {
        (r["vec_id"], r["neighbor_id"])
        for r in lsh_topk_multi(emb, k=3, n_tables=8, n_planes=4).collect()
    }
    rec_single = len(single & exact) / len(exact)
    rec_multi = len(multi & exact) / len(exact)
    rec_wide = len(wide & exact) / len(exact)
    assert rec_multi >= rec_single  # amplification can only add candidates
    assert rec_multi >= 1.5 * rec_single  # and must add materially (measured 2.1x)
    assert rec_wide >= 0.5  # the recall knob delivers (measured 0.559)


def test_ivf_recall_beats_single_table_lsh(spark):
    """The IVF coarse-quantizer cells concentrate genuinely-near vectors far
    better than 8-plane hyperplane buckets on this data: measured recall
    0.206 (deterministic) vs 0.039 for single-table LSH, at ~n^2/cells
    candidate pairs."""
    from etl_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r["vec_id"], r["neighbor_id"]) for r in brute_force_topk(emb, k=3).collect()}
    ivf = {(r["vec_id"], r["neighbor_id"]) for r in ivf_topk(emb, k=3, n_cells=16).collect()}
    lsh = {(r["vec_id"], r["neighbor_id"]) for r in lsh_topk(emb, k=3).collect()}
    rec_ivf = len(ivf & exact) / len(exact)
    rec_lsh = len(lsh & exact) / len(exact)
    assert rec_ivf > rec_lsh
    assert rec_ivf >= 0.15


# ------------------------------------------- merge file-count estimate


def test_merge_stats_fallback_above_observed_width(spark, tmp_table_dir):
    """When the planned file count exceeds the bounded conditional-aggregate
    width, manifest stats come from the distributed scan fallback — and the
    next merge still plans/prunes correctly from them."""
    from etl_spark.table import table as T

    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    bulk = spark.range(3000).select(
        F.format_string("k%06d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.col("id").alias("value_cents"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, bulk, epoch=0, target_rows_per_file=10)
    # epoch 0 seeds an empty table (no planning job -> no n_changes -> file
    # count floors at parallelism); epoch 1 re-touches everything with
    # n_changes measured, so the estimate exceeds the observed-stat width
    r = merge_batch(
        table,
        bulk.withColumn("commit_lsn", F.col("commit_lsn") + 10000),
        epoch=1,
        target_rows_per_file=10,
    )
    assert r.files_added > T.MAX_OBSERVED_STAT_FILES  # fallback path exercised
    files = table.files()
    assert sum(f["rows"] for f in files) == 3000
    assert all(f["min_key"] is not None and f["max_key"] is not None for f in files)
    # a follow-up microbatch plans against the fallback-collected stats
    r2 = merge_batch(table, _batch(spark, [("k000042", 99999, 0, "U", 1, "s")]), epoch=2, target_rows_per_file=10)
    assert r2.applied and r2.files_rewritten <= 2
    assert table.read().where("doc_id = 'k000042'").collect()[0]["value_cents"] == 1
    assert table.read().count() == 3000


def test_merge_observed_stats_skip_empty_partitions(spark, tmp_table_dir):
    """A microbatch smaller than the parallelism floor leaves empty range
    partitions: manifest entries exist only for written files and their row
    counts reconcile."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("a", 1, 0, "U", 1, "s"), ("b", 2, 0, "U", 2, "s")]), epoch=0)
    files = table.files()
    assert sum(f["rows"] for f in files) == 2
    assert all(f["rows"] > 0 for f in files)
    import os

    for f in files:
        assert os.path.exists(f["path"])


def test_merge_file_count_tracks_batch_not_table(spark, tmp_table_dir):
    """A tiny microbatch against a larger table must not fragment the write
    into ~table_rows/target files: with target_rows_per_file small enough to
    matter, the file count follows touched-slice+batch rows."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    bulk = spark.range(2000).select(
        F.format_string("k%06d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.col("id").alias("value_cents"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, bulk, epoch=0, target_rows_per_file=100)
    # microbatch touching one key: estimate = touched file rows + batch, far
    # below table rows; file count stays at the parallelism floor
    par = spark.sparkContext.defaultParallelism
    r = merge_batch(table, _batch(spark, [("k000001", 99999, 0, "U", 1, "s")]), epoch=1, target_rows_per_file=100)
    touched_rows = 2000 // par + 200  # generous bound on one range file + batch
    assert r.files_added <= max(par, touched_rows // 100 + 1)
    assert r.files_added < 2000 // 100  # the old whole-table estimate
