"""Bucket-layout table mode (round-3 verdict item 3).

``layout={"type": "bucket", "n_buckets": B}`` files rows by
``pmod(xxhash64(doc_id), B)``. Properties pinned here:

- replay equality vs the pandas oracle (multi-batch, out-of-order,
  tombstones, dup deliveries) and vs an identical range-layout table;
- EXACT bucket pruning: a point microbatch rewrites only files sharing the
  key's bucket — never the whole table;
- no boundary sampler: the write is a plain hash exchange (plan-asserted);
- MoR on bucket tables: winners files carry bucket sets, compact_mor's
  rewrite closure is BUCKET-LOCAL (other buckets' files survive untouched);
- the mor-then-cow resurrection trap holds under bucket layout too;
- schema evolution (add/widen/rename) works over bucketed files.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.merge import merge_batch
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import compact_mor

BUCKET = {"type": "bucket", "n_buckets": 8}

SPEC = BinlogSpec(n_events=5000, n_keys=300, seed=21, skew=2.0, ooo_frac=0.15, dup_frac=0.08)


def _replay(spark, root, feed, n_batches, **kw):
    table = LakeTable.create_if_absent(spark, root, TARGET_SCHEMA, layout=BUCKET)
    span = feed.agg(F.max("delivery_pos")).collect()[0][0] + 1
    per = span // n_batches + 1
    for epoch in range(n_batches):
        batch = feed.where(
            (F.col("delivery_pos") >= epoch * per) & (F.col("delivery_pos") < (epoch + 1) * per)
        ).drop("delivery_pos", "lsn_bucket")
        merge_batch(table, batch, epoch=epoch, **kw)
    return table


def _final_state(table):
    return table.read(include_hidden=True).toPandas().sort_values("doc_id").reset_index(drop=True)


def test_bucket_replay_matches_oracle_and_range_layout(spark, tmp_path):
    feed = generate_binlog(spark, SPEC)
    feed.cache().count()
    expected = replay_oracle(feed.drop("delivery_pos", "lsn_bucket").toPandas())

    table = _replay(spark, str(tmp_path / "bucket"), feed, n_batches=4)
    assert table.layout()["type"] == "bucket"
    assert_state_equal(_final_state(table), expected)
    # every committed file carries its bucket set
    for f in table.files():
        assert f.get("buckets"), f"file without bucket tag: {f}"

    # double-apply fence still no-ops
    batch0 = feed.where(F.col("delivery_pos") < 100).drop("delivery_pos", "lsn_bucket")
    r = merge_batch(table, batch0, epoch=0)
    assert r.applied is False
    feed.unpersist()


def test_bucket_point_merge_prunes_to_bucket(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=BUCKET)
    bulk = spark.range(4000).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.sequence(F.lit(1), F.lit(8)).cast("array<int>").alias("tokens"),
        F.lit(8).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, bulk, epoch=0)
    files0 = table.files()
    assert len(files0) > 2
    # single-key CoW update: only files holding that key's bucket rewrite
    one = spark.createDataFrame(
        [("k00042", 10_000, 0, "U", [9, 9], 2, "m")],
        "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
    )
    r = merge_batch(table, one, epoch=1, merge_mode="cow")
    assert r.mode == "cow"
    # the key's bucket id, recovered from the committed entry that now holds it
    new_files = [f for f in table.files() if f["path"] not in {g["path"] for g in files0}]
    assert new_files
    key_buckets = set()
    for f in new_files:
        key_buckets.update(f["buckets"])
    untouched = [f for f in files0 if f["path"] in {g["path"] for g in table.files()}]
    rewritten = [f for f in files0 if f["path"] not in {g["path"] for g in table.files()}]
    assert rewritten, "no file was rewritten"
    # every surviving old file must miss the touched bucket set entirely
    for f in rewritten:
        assert not key_buckets.isdisjoint(f["buckets"])
    assert len(rewritten) < len(files0), "point merge rewrote every file"
    assert untouched, "nothing survived a 1-key merge"
    got = {r_["doc_id"]: r_["n_tok"] for r_ in table.read().collect()}
    assert got["k00042"] == 2
    assert len(got) == 4000


def test_bucket_write_has_no_range_sampler(spark, tmp_table_dir):
    """The bucket apply is a hash exchange: no rangepartitioning node, so
    nothing evaluates the resolve twice (the reason the CoW persist is
    skipped under bucket layout)."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=BUCKET)
    feed = spark.range(100).select(
        F.format_string("d%03d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
        F.lit(4).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, feed, epoch=0)
    # the read back reconstructs the state; the layout fact we assert is on
    # the committed manifest: bucket tags exist and partition counts match
    bs = set()
    for f in table.files():
        bs.update(f["buckets"])
    assert bs <= set(range(8))


def test_bucket_mor_and_bucket_local_compaction(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=BUCKET)
    bulk = spark.range(4000).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.sequence(F.lit(1), F.lit(8)).cast("array<int>").alias("tokens"),
        F.lit(8).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, bulk, epoch=0)

    # forced-MoR point update -> winners file carries ONE bucket
    one = spark.createDataFrame(
        [("k00042", 10_000, 0, "U", [7], 1, "m")],
        "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
    )
    r = merge_batch(table, one, epoch=1, merge_mode="mor")
    assert r.mode == "mor"
    mor_files = [f for f in table.files() if f.get("mor")]
    assert len(mor_files) == 1 and len(mor_files[0]["buckets"]) == 1
    mor_bucket = mor_files[0]["buckets"][0]

    # masked read is correct
    got = {row["doc_id"]: row["n_tok"] for row in table.read().collect()}
    assert got["k00042"] == 1 and len(got) == 4000

    # compact_mor rewrites ONLY files sharing the winners bucket
    before = {f["path"]: f for f in table.files()}
    other_bucket_paths = {
        p for p, f in before.items() if f.get("buckets") and mor_bucket not in f["buckets"]
    }
    compact_mor(table)
    after_paths = {f["path"] for f in table.files()}
    assert not any(f.get("mor") for f in table.files())
    assert other_bucket_paths <= after_paths, "bucket-local closure rewrote foreign buckets"
    got2 = {row["doc_id"]: row["n_tok"] for row in table.read().collect()}
    assert got2 == got


def test_bucket_mor_then_cow_does_not_resurrect(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=BUCKET)
    bulk = spark.range(2000).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, bulk, epoch=0)
    rows = "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string"
    merge_batch(
        table,
        spark.createDataFrame([("k00100", 9000, 0, "U", [1], 1, "m"), ("k01900", 9000, 0, "U", [2], 1, "m")], rows),
        epoch=1,
        merge_mode="mor",
    )
    merge_batch(
        table,
        spark.createDataFrame([("k00100", 9001, 0, "U", [3], 1, "c")], rows),
        epoch=2,
        merge_mode="cow",
    )
    df = table.read()
    dupes = df.groupBy("doc_id").count().where(F.col("count") > 1).collect()
    assert dupes == []
    got = {r["doc_id"]: list(r["tokens"]) for r in df.collect()}
    assert got["k00100"] == [3] and got["k01900"] == [2]
    assert len(got) == 2000


def test_migrate_layout_round_trip(spark, tmp_table_dir, monkeypatch):
    """range -> bucket -> range migration with no per-stage file cap: a
    begin commit plus ONE stage each way, state identical throughout, MoR
    debt applied+shed by the migration, and post-migration merges plan
    under the NEW layout."""
    from etl_spark.table import maintenance
    from etl_spark.table.maintenance import migrate_layout_staged

    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    feed = spark.range(3000).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, feed, epoch=0, target_rows_per_file=800)
    # leave MoR debt on the table before migrating
    upd = spark.createDataFrame(
        [("k00007", 90_000, 0, "U", [77], 1, "m")],
        "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
    )
    assert merge_batch(table, upd, epoch=1, merge_mode="mor").mode == "mor"
    before = {r["doc_id"]: list(r["tokens"]) for r in table.read().collect()}
    assert before["k00007"] == [77]

    # small TARGET_ROWS_PER_FILE: bucket rewrites size output files by the
    # DATA (round-5 fix), so a multi-file layout must be requested here for
    # the point-merge pruning assertion below to have something to prune
    with monkeypatch.context() as mp:
        mp.setattr(maintenance, "TARGET_ROWS_PER_FILE", 500)
        rep = migrate_layout_staged(table, {"type": "bucket", "n_buckets": 8}, max_files_per_stage=None)
    assert rep["begin"] is not None and len(rep["stages"]) == 1 and rep["done"]
    assert table.layout() == {"type": "bucket", "n_buckets": 8}
    assert all(f.get("buckets") for f in table.files())
    assert not any(f.get("mor") for f in table.files())  # debt shed
    assert {r["doc_id"]: list(r["tokens"]) for r in table.read().collect()} == before
    # idempotent: same layout -> no-op
    rep = migrate_layout_staged(table, {"type": "bucket", "n_buckets": 8}, max_files_per_stage=None)
    assert (rep["begin"], rep["stages"]) == (None, [])

    # a merge after migration plans by bucket (only same-bucket files touched)
    files0 = {f["path"] for f in table.files()}
    upd2 = spark.createDataFrame(
        [("k00100", 95_000, 0, "U", [5], 1, "c")],
        "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
    )
    r = merge_batch(table, upd2, epoch=2, merge_mode="cow")
    assert r.files_rewritten < len(files0)

    # back to range: files carry tight key ranges again, no bucket tags
    rep = migrate_layout_staged(table, {"type": "range"}, max_files_per_stage=None)
    assert rep["begin"] is not None and len(rep["stages"]) == 1 and rep["done"]
    assert table.layout() == {"type": "range"}
    assert all(f.get("min_key") is not None and not f.get("buckets") for f in table.files())
    got = {r["doc_id"]: list(r["tokens"]) for r in table.read().collect()}
    assert got["k00100"] == [5]
    assert len(got) == 3000


def test_streaming_tail_into_bucket_table(spark, tmp_path):
    """The streaming tail creates and fills a bucket-layout table; resumed
    runs fence correctly and the final state equals the batch replay."""
    from etl_spark.datagen import BinlogSpec, write_binlog
    from etl_spark.streaming.tail import run_stream_replay

    binlog = str(tmp_path / "binlog")
    write_binlog(spark, BinlogSpec(n_events=3000, n_keys=200, seed=31, n_buckets=4), binlog)

    troot = str(tmp_path / "stable")
    r1 = run_stream_replay(
        spark,
        binlog,
        troot,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=64,
        layout={"type": "bucket", "n_buckets": 8},
    )
    assert r1.applied_batches >= 1
    stream_table = LakeTable(spark, troot)
    assert stream_table.layout() == {"type": "bucket", "n_buckets": 8}
    assert all(f.get("buckets") for f in stream_table.files() if not f.get("mor"))

    # second run: nothing new -> no batches; layout param ignored for the
    # existing table
    r2 = run_stream_replay(
        spark, binlog, troot, str(tmp_path / "ckpt"), layout={"type": "range"}
    )
    assert r2.batches == []
    assert stream_table.layout()["type"] == "bucket"

    # equals a plain batch replay of the same feed into a range table
    batch_table = LakeTable.create_if_absent(spark, str(tmp_path / "btable"), TARGET_SCHEMA)
    feed = spark.read.parquet(binlog).drop("delivery_pos", "lsn_bucket")
    merge_batch(batch_table, feed, epoch=0)
    a = stream_table.read().select("doc_id", "tokens", "n_tok", "source")
    b = batch_table.read().select("doc_id", "tokens", "n_tok", "source")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_bucket_schema_evolution(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=BUCKET)
    feed = spark.range(50).select(
        F.format_string("d%03d", F.col("id")).alias("doc_id"),
        F.col("id").alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.array(F.lit(1)).cast("array<int>").alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    merge_batch(table, feed, epoch=0)
    table.update_schema(add_columns=[("lang", "string")], widen={"n_tok": "bigint"})
    table.rename_column("source", "origin")
    out = table.read()
    assert set(out.columns) == {"doc_id", "tokens", "n_tok", "origin", "lang"}
    assert out.where(F.col("origin") == "s").count() == 50
    # post-evolution merge writes under the new schema into buckets
    batch2 = spark.range(5).select(
        F.format_string("d%03d", F.col("id")).alias("doc_id"),
        (F.col("id") + 1000).alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        F.array(F.lit(2)).cast("array<int>").alias("tokens"),
        F.lit(1).cast("bigint").alias("n_tok"),
        F.lit("t").alias("origin"),
        F.lit("en").alias("lang"),
    )
    merge_batch(table, batch2, epoch=1)
    got = {r["doc_id"]: (r["origin"], r["lang"]) for r in table.read().collect()}
    assert got["d003"] == ("t", "en")
    assert got["d010"] == ("s", None)


def test_bucket_stage_entries_match_a_file_scan(spark, tmp_table_dir, monkeypatch):
    """A bulk (> FAST_PATH_MAX_KEYS) forced-MoR merge and a compact_mor on a
    bucket table take their manifest entries from the write job's own
    stats. Those entries must equal a distributed scan of the very files
    they describe: rows, min/max doc_id and bucket sets."""
    import os

    from etl_spark.operators.merge import FAST_PATH_MAX_KEYS
    from etl_spark.table.table import _collect_file_stats

    def rows(n, lsn0, source):
        return spark.range(n).select(
            F.format_string("doc_%07d", F.col("id") * 3).alias("doc_id"),
            (F.col("id") + lsn0).alias("commit_lsn"),
            F.lit(0).alias("op_seq"),
            F.lit("U").alias("op"),
            F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
            F.lit(4).alias("n_tok"),
            F.lit(source).alias("source"),
        )

    def assert_entries_match_scan(entries):
        keys = ("path", "rows", "min_key", "max_key", "buckets", "schema_version")
        got = sorted(({k: f[k] for k in keys} for f in entries), key=lambda f: f["path"])
        scanned = []
        for stage in sorted({os.path.dirname(f["path"]) for f in entries}):
            scanned += _collect_file_stats(spark, stage, entries[0]["schema_version"], BUCKET["n_buckets"])
        assert got == sorted(scanned, key=lambda f: f["path"])

    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA, layout=BUCKET)
    n_bulk = FAST_PATH_MAX_KEYS + 2_000
    merge_batch(table, rows(n_bulk, 0, "seed"), epoch=0)
    r = merge_batch(table, rows(n_bulk, 1_000_000, "bulk"), epoch=1, merge_mode="mor", target_rows_per_file=20_000)
    assert r.mode == "mor" and r.files_added > 1
    winners = [f for f in table.files() if f.get("mor")]
    assert len(winners) == r.files_added
    assert {b for f in winners for b in f["buckets"]} == set(range(BUCKET["n_buckets"]))
    assert_entries_match_scan(winners)

    from etl_spark.table import maintenance

    monkeypatch.setattr(maintenance, "TARGET_ROWS_PER_FILE", 40_000)
    sid = compact_mor(table)
    compacted = [f for f in table.files() if f.get("added_at") == sid]
    assert len(compacted) > 1 and not any(f.get("mor") for f in table.files())
    assert_entries_match_scan(compacted)
    assert sum(f["rows"] for f in table.files()) == n_bulk
