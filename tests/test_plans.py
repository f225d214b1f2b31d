"""Physical-plan discipline tests: the plan-shape guarantees that make the
engine hold at 100 TB, asserted mechanically (SURVEY.md §4; BASELINE.md "UDF
discipline").

- filters/projections reach the parquet scan (PushedFilters / ReadSchema);
- small dimensions broadcast instead of shuffling the fact side;
- no query in the registry ever evaluates a row-at-a-time Python UDF
  (BatchEvalPython) — Arrow-vectorized nodes only;
- whole-stage codegen covers the hot expressions.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q1_filter_pushed_to_scan(spark):
    from etl_spark.queries import query_fns

    df = query_fns()["tpch_q1_pricing"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: scan must not read the unused l_orderkey
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema


def test_tpch_q3_broadcasts_dimension(spark):
    from etl_spark.queries import query_fns

    plan = _plan(query_fns()["tpch_q3_shipping"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_merge_planning_broadcasts_file_stats(spark, tmp_path):
    """The copy-on-write planner joins batch keys x per-file stats with the
    stats side broadcast — the table's manifest never shuffles the batch."""
    import pyspark.sql.functions as F

    from etl_spark.datagen import BinlogSpec, generate_binlog
    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable

    feed = generate_binlog(spark, BinlogSpec(n_events=2000, n_keys=200, seed=3)).drop(
        "lsn_bucket", "delivery_pos"
    )
    table = LakeTable.create_if_absent(spark, str(tmp_path / "t"), TARGET_SCHEMA)
    merge_batch(table, feed.where(F.col("commit_lsn") <= 500), epoch=0)
    # second merge has files to plan against; capture the resolve plan via
    # the read path after apply
    merge_batch(table, feed.where(F.col("commit_lsn") > 500), epoch=1)
    assert table.head_id() == 2


def _kv_table(spark, root):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_spark.table import LakeTable

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value_cents", LongType(), True),
            StructField("source", StringType(), True),
        ]
    )
    return LakeTable.create_if_absent(spark, root, schema)


def _kv_batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, commit_lsn long, op_seq int, op string, value_cents long, source string"
    )


def test_merge_batch_touching_no_files(spark, tmp_table_dir, monkeypatch):
    """A bulk batch of ALL-NEW keys outside every file's range: the
    planning join (``LakeTable.touched_files``) has zero hits, and under AQE
    an inner-join formulation loses the CollectMetrics accumulators (the
    observed round-2 latent crash). The left-outer planning join must
    survive and merge correctly — also against an empty stats side, the
    first load of a fresh table."""
    import pyspark.sql.functions as F

    from etl_spark.operators import merge

    # a lower probe cap sends the 3,000-key batch through the planning join
    monkeypatch.setattr(merge, "FAST_PATH_MAX_KEYS", 1_000)
    table = _kv_table(spark, tmp_table_dir)
    merge.merge_batch(table, _kv_batch(spark, [("a", 1, 0, "U", 1, "s"), ("b", 2, 0, "U", 2, "s")]), epoch=0)
    bulk = spark.range(3000).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        (F.col("id") + 10).alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.col("id").alias("value_cents"),
        F.lit("s").alias("source"),
    )
    r = merge.merge_batch(table, bulk, epoch=1)
    assert r.applied and r.rows_upserted == 3000 and r.files_rewritten == 0
    assert table.read().count() == 3002
    fresh = _kv_table(spark, f"{tmp_table_dir}/fresh")
    r = merge.merge_batch(fresh, bulk, epoch=0)
    assert r.applied and r.mode == "cow" and r.rows_upserted == 3000
    assert fresh.read().count() == 3000


def test_merge_empty_batch_fences_epoch(spark, tmp_table_dir):
    """An empty microbatch (a quiet streaming tail interval) must still
    fence its epoch — resume stays monotone — without writing files."""
    from etl_spark.operators.merge import merge_batch

    table = _kv_table(spark, tmp_table_dir)
    merge_batch(table, _kv_batch(spark, [("a", 1, 0, "U", 1, "s")]), epoch=0)
    files_before = {f["path"] for f in table.files()}
    r = merge_batch(table, _kv_batch(spark, []), epoch=1)
    assert r.applied and r.mode == "empty" and r.rows_upserted == 0
    assert table.is_fenced(1)
    assert {f["path"] for f in table.files()} == files_before
    # idempotent re-apply of the fenced empty epoch no-ops
    r2 = merge_batch(table, _kv_batch(spark, []), epoch=1)
    assert not r2.applied
    assert table.read().count() == 1


@pytest.mark.parametrize(
    "qname",
    [
        "cdc_lww_dedup",
        "tok_vocab_encode",
        "tok_chunk",
        "tok_clamp_unk",
        "tok_pack_sequences",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "ann_lsh_topk",
        "ann_lsh_multi_topk",
        "events_sessionize",
        "events_sliding_counts",
        "events_pivot_type_counts",
        "tpch_rollup_pricing",
        "win_lag_delta",
        "mm_binary_meta",
    ],
)
def test_no_row_python_in_registry_plans(spark, qname):
    from etl_spark.functions.tokens import assert_vectorized_plan
    from etl_spark.queries import query_fns

    df = query_fns()[qname](spark, SF_DIR)
    assert_vectorized_plan(df)


def test_dedup_uses_partial_aggregation(spark):
    """The LWW max_by dedup must plan with a map-side partial aggregate
    before the exchange (skew dies map-side), never a sort-based window.

    Note: Spark picks SortAggregate here (the max_by buffer carries the
    array<int> payload, an immutable buffer type), but the scale-critical
    property is the partial/final split, which SortAggregate preserves."""
    from etl_spark.datagen import BinlogSpec, generate_binlog
    from etl_spark.operators.dedup import lww_dedup

    feed = generate_binlog(spark, BinlogSpec(n_events=1000, n_keys=100, seed=5)).drop(
        "lsn_bucket", "delivery_pos"
    )
    plan = _plan(lww_dedup(feed))
    assert "partial_max_by" in plan
    assert "Window" not in plan
    # partial agg must run BEFORE the exchange (map side)
    assert plan.index("partial_max_by") > plan.index("Exchange")  # plan prints top-down


def test_tokens_transforms_stay_codegen(spark):
    """Catalyst token transforms compile into WholeStageCodegen spans."""
    import pyspark.sql.functions as F

    from etl_spark.functions.tokens import append_eos, clamp_vocab, truncate_tokens

    df = spark.range(100).select(
        F.sequence(F.lit(1), (F.col("id") % 50 + 1).cast("int")).cast("array<int>").alias("tokens")
    )
    out = df.select(
        truncate_tokens("tokens", 16).alias("a"),
        append_eos("tokens", 0, 17).alias("b"),
        clamp_vocab("tokens", 40, -1).alias("c"),
    )
    plan = _plan(out)
    # "*(n)" is the WholeStageCodegen marker in executedPlan().toString()
    assert "WholeStageCodegen" in plan or "*(" in plan
    assert "BatchEvalPython" not in plan


def test_microbatch_mor_epoch_runs_exactly_one_job(spark, tmp_table_dir):
    """The microbatch fast path's defining property, asserted mechanically:
    a MoR microbatch epoch launches exactly 1 Spark job — the bounded probe
    that ships the deduped batch to the driver, where the resolve and the
    winners write run with pyarrow — independent of table size. Every extra
    job is per-epoch scheduling tax (~0.25-0.4 s each on this class of
    hardware); 12 jobs/epoch was the round-3 fixed-cost floor."""
    import pyspark.sql.functions as F

    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable

    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    bulk = spark.range(60_000).select(
        F.format_string("doc_%07d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.sequence(F.lit(1), F.lit(8)).cast("array<int>").alias("tokens"),
        F.lit(8).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, bulk, epoch=0, target_rows_per_file=10_000)
    assert len(table.files()) > 2

    tracker = spark.sparkContext._jsc.sc().statusTracker()
    micro = spark.range(500).select(
        F.format_string("doc_%07d", F.col("id") * 100).alias("doc_id"),
        (F.col("id") + 1_000_000).alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
        F.lit(4).alias("n_tok"),
        F.lit("m").alias("source"),
    )
    n0 = len(tracker.getJobIdsForGroup(None))
    r = merge_batch(table, micro, epoch=1, merge_mode="mor")
    n1 = len(tracker.getJobIdsForGroup(None))
    assert r.mode == "mor"
    assert n1 - n0 == 1, f"MoR microbatch epoch launched {n1 - n0} jobs, expected 1"


def test_stream_tail_mor_epochs_run_exactly_one_job(spark, tmp_table_dir, monkeypatch):
    """The same 1-job floor under the streaming tail. foreachBatch hands
    merge_batch a DataFrame bound to the query's CLONED session, where the
    persist and the probe execute — so the fast path's AQE-off scope must
    land on that session, not on table.spark (scoped on the wrong session,
    every epoch ran 7 jobs). Jobs are counted in the stream's job group,
    which the foreachBatch callback thread carries."""
    import os

    import pyspark.sql.functions as F

    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.streaming import tail
    from etl_spark.table import LakeTable

    table = LakeTable.create_if_absent(spark, os.path.join(tmp_table_dir, "table"), TARGET_SCHEMA)
    feed_cols = [
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.format_string("doc_%07d", F.col("id") % 60_000).alias("doc_id"),
        F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
        F.lit(4).alias("n_tok"),
        F.lit("s").alias("source"),
    ]
    tail.merge_batch(table, spark.range(60_000).select(feed_cols), epoch=1_000, target_rows_per_file=10_000)
    binlog = os.path.join(tmp_table_dir, "binlog")
    for i in range(3):
        # one file per trigger, spread over the keyspace: auto picks MoR
        ids = spark.range(500).select(((F.col("id") * 120 + i) + 100_000 * (i + 1)).alias("id"))
        ids.select(feed_cols).coalesce(1).write.parquet(os.path.join(binlog, f"lsn_bucket={i}"))

    jobs, modes = [], []
    merge_batch = tail.merge_batch

    def counted(table, changes, epoch, **kw):
        sc = changes.sparkSession.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        tracker = sc._jsc.sc().statusTracker()
        n0 = len(tracker.getJobIdsForGroup(group))
        res = merge_batch(table, changes, epoch, **kw)
        jobs.append(len(tracker.getJobIdsForGroup(group)) - n0)
        modes.append(res.mode)
        return res

    monkeypatch.setattr(tail, "merge_batch", counted)
    report = tail.run_stream_replay(
        spark, binlog, table.root, os.path.join(tmp_table_dir, "ckpt"), max_files_per_trigger=1
    )
    assert len(report.batches) == 3 and modes == ["mor"] * 3, modes
    assert jobs == [1, 1, 1], f"streamed MoR epochs launched {jobs} jobs, expected 1 each"
    # the scope is restored on the stream's session and untouched on ours
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.mark.parametrize(
    "layout,target_rows,arm,jobs",
    [
        (None, None, "local", 0),
        ({"type": "bucket", "n_buckets": 8}, None, "spark", 4),
        (None, 10_000, "spark", 5),
    ],
    ids=["range", "bucket", "range_above_bound"],
)
def test_compact_mor_job_count(spark, tmp_table_dir, monkeypatch, layout, target_rows, arm, jobs):
    """compact_mor sizes its output from the input entries' manifest row
    counts. On a range table whose closure fits one output file it reads,
    masks and writes on the driver: no Spark job. A bucket table (the JVM
    bucket hash) or a closure above ``TARGET_ROWS_PER_FILE`` rows takes the
    Spark arm, whose manifest entries ride the write job's own stats: no
    count job, no re-scan of the files it wrote (the count-and-rescan
    rewrite ran 11). Above the bound the range write spans two files, so
    its range exchange adds one boundary-sampling job."""
    import pyspark.sql.functions as F

    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable, maintenance

    def feed(n, stride, lsn0):
        return spark.range(n).select(
            F.format_string("doc_%07d", F.col("id") * stride).alias("doc_id"),
            (F.col("id") + lsn0).alias("commit_lsn"),
            F.lit(0).alias("op_seq"),
            F.lit("U").alias("op"),
            F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
            F.lit(4).alias("n_tok"),
            F.lit("s").alias("source"),
        )

    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=layout)
    merge_batch(table, feed(16_000, 1, 0), epoch=0, target_rows_per_file=4_000)
    for e in range(1, 4):
        assert merge_batch(table, feed(200, 80, 100_000 * e), epoch=e, merge_mode="mor").mode == "mor"
    assert len([f for f in table.files() if f.get("mor")]) == 3
    if target_rows is not None:
        monkeypatch.setattr(maintenance, "TARGET_ROWS_PER_FILE", target_rows)

    # count job ids above the last one seen: the tracker evicts its oldest
    # jobs past spark.ui.retainedJobs, so list lengths are not comparable
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    sid = maintenance.compact_mor(table)
    n_jobs = sum(1 for j in tracker.getJobIdsForGroup(None) if j > last)
    assert sid is not None and table.snapshot(sid)["summary"]["arm"] == arm
    assert not any(f.get("mor") for f in table.files())
    assert n_jobs == jobs, f"compact_mor launched {n_jobs} jobs, expected {jobs}"


def test_mor_resolve_target_scan_prunes_payload(spark, tmp_table_dir):
    """The merge-on-read resolve reads the touched target ONLY for
    (doc_id, version columns) — the token payload must never reach the scan
    (winners carry their payload from the change rows). Guarded on the
    key/version scan the resolve builds (load_key_versions)."""
    import pyspark.sql.functions as F

    from etl_spark.operators.merge import merge_batch
    from etl_spark.schema import HIDDEN_SEQ, TARGET_SCHEMA
    from etl_spark.table import LakeTable

    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    feed = spark.range(500).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.sequence(F.lit(1), F.lit(16)).cast("array<int>").alias("tokens"),
        F.lit(16).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, feed, epoch=0)
    snap = table.snapshot()
    read_schema = _plan(table.load_key_versions(snap["files"])).split("ReadSchema")[1][:500]
    assert "tokens" not in read_schema and "doc_id" in read_schema and HIDDEN_SEQ in read_schema


def test_cow_resolve_plan_has_no_full_outer_join_or_payload_broadcast(spark, tmp_path, monkeypatch):
    """A copy-on-write epoch resolves by the winners rule of merge-on-read —
    the batch left-joined to the per-key stored versions — plus the touched
    rows left-joined to the batch versions: no join is full outer, and a
    broadcast hint (under MAX_BROADCAST_ROWS) covers only narrow sides, never
    a payload column. Checked on the optimized plan of the DataFrame the
    epoch hands to write_stage, with the bound at 0 and at its default."""
    import pyspark.sql.functions as F

    import etl_spark.operators.merge as merge
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable

    payload = {f.name for f in TARGET_SCHEMA.fields} - {"doc_id"}
    plans = []
    write_stage = LakeTable.write_stage

    def capture(self, df, *args, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan())
        return write_stage(self, df, *args, **kw)

    def joins(node):
        found = [node] if node.nodeName() == "Join" else []
        kids = node.children()
        for i in range(kids.size()):
            found += joins(kids.apply(i))
        return found

    def feed(n, stride, lsn0):
        return spark.range(n).select(
            F.format_string("d%05d", F.col("id") * stride).alias("doc_id"),
            (F.col("id") + lsn0).alias("commit_lsn"),
            F.lit(0).alias("op_seq"),
            F.lit("U").alias("op"),
            F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
            F.lit(4).alias("n_tok"),
            F.lit("s").alias("source"),
        )

    monkeypatch.setattr(LakeTable, "write_stage", capture)
    for bound in (0, merge.MAX_BROADCAST_ROWS):
        monkeypatch.setattr(merge, "MAX_BROADCAST_ROWS", bound)
        table = LakeTable.create_if_absent(spark, str(tmp_path / f"bound{bound}"), TARGET_SCHEMA)
        merge_batch = merge.merge_batch
        merge_batch(table, feed(400, 1, 0), epoch=0)
        plans.clear()
        # updates of stored keys plus new keys past the stored range
        r = merge_batch(table, feed(120, 5, 1_000), epoch=1, merge_mode="cow")
        assert r.mode == "cow" and r.files_rewritten and len(plans) == 1
        found = joins(plans[0])
        assert found
        hinted = []
        for j in found:
            assert j.joinType().toString() != "FullOuter", plans[0].toString()
            for info, child in ((j.hint().leftHint(), j.left()), (j.hint().rightHint(), j.right())):
                if info.isDefined() and "broadcast" in info.get().toString():
                    cols = set(child.schema().fieldNames())
                    assert not cols & payload, f"broadcast over payload columns {sorted(cols & payload)}"
                    hinted.append(cols)
        assert bool(hinted) == (bound > 0), hinted


def test_fuzzy_dedup_pairs_carry_no_broadcast_hint(spark):
    """The per-doc shingle-set sizes grow with the corpus, so neither pair
    operator may force them into a broadcast: MinHash-LSH carries each
    doc's size through its band rows, and exact n-gram Jaccard leaves the
    size joins to the planner."""
    from etl_spark.operators import fuzzy_dedup as FD

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps"), (3, "lorem ipsum dolor sit")],
        "doc_id long, text string",
    )
    for df in (FD.minhash_lsh_pairs(docs, cache_shingles=False), FD.ngram_jaccard_pairs(docs)):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed and "broadcast" not in analyzed.lower()
