"""Round-4 regression pins (VERDICT/ADVICE round 3).

The headline trap: a copy-on-write merge that REMOVES a mor-flagged winners
file used to drop the mask while the masked stale copies stayed alive in
files the batch never touched — duplicate keys on the next read (ADVICE
high, operators/merge.py). The fix inherits the mor flag onto the CoW
output (the compact rule) whenever a removed winners file overlaps an
untouched live file.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_spark.operators.merge import merge_batch
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import compact_mor

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


def _bulk(spark, n, lsn0=0):
    return spark.range(n).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        (F.col("id") + lsn0).alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        (F.col("id") * 10).alias("value_cents"),
        F.lit("s").alias("source"),
    )


def _state(table):
    return {r["doc_id"]: r["value_cents"] for r in table.read().collect()}


def test_mor_then_cow_interleave_does_not_resurrect(spark, tmp_table_dir):
    """ADVICE-high reproduction: bulk load; MoR batch updates keys at both
    ends of the keyspace (winners file spans it); a CoW batch then touches a
    middle range — the CoW rewrite removes the winners file. The stale
    end-key rows in untouched files must STAY masked."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    # target_rows_per_file forces a multi-file layout: small bulk loads
    # otherwise take the microbatch single-file write (round-4 sizing)
    merge_batch(table, _bulk(spark, 2000), epoch=0, target_rows_per_file=500)
    assert len(table.files()) > 2

    # winners file spans k00100..k01900 — overlaps (almost) every data file
    r1 = merge_batch(
        table,
        _batch(spark, [("k00100", 10_000, 0, "U", 1, "m"), ("k01900", 10_000, 0, "U", 2, "m")]),
        epoch=1,
        merge_mode="mor",
    )
    assert r1.mode == "mor"

    # CoW batch on a middle key: its planning touches the winners file
    # (range spans the keyspace) and removes it
    r2 = merge_batch(
        table,
        _batch(spark, [("k01000", 10_001, 0, "U", 3, "c")]),
        epoch=2,
        merge_mode="cow",
    )
    assert r2.mode == "cow"

    df = table.read()
    # exactly one row per key — the stale k00100/k01900 copies in untouched
    # files must not resurrect
    dupes = df.groupBy("doc_id").count().where(F.col("count") > 1).collect()
    assert dupes == [], f"duplicate keys after mor->cow interleave: {dupes}"
    st = _state(table)
    assert st["k00100"] == 1
    assert st["k01900"] == 2
    assert st["k01000"] == 3
    assert len(st) == 2000

    # compaction sheds the inherited debt and the state is unchanged
    compact_mor(table)
    assert not any(f.get("mor") for f in table.files())
    assert _state(table) == st


def test_auto_mode_mor_microbatch_then_cow_bulk(spark, tmp_table_dir):
    """The default-config path to the same trap: merge_mode='auto' picks MoR
    for a tiny microbatch against a big table, then CoW for a bulk batch."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 2000), epoch=0)
    r1 = merge_batch(
        table,
        _batch(spark, [("k00050", 9_000, 0, "U", 11, "m"), ("k01950", 9_000, 0, "U", 12, "m")]),
        epoch=1,
        merge_mode="auto",
    )
    assert r1.mode == "mor"
    # bulk update of the middle half — auto goes CoW
    r2 = merge_batch(table, _bulk(spark, 2000, lsn0=20_000), epoch=2, merge_mode="auto")
    assert r2.mode == "cow"
    df = table.read()
    assert df.count() == 2000
    assert df.groupBy("doc_id").count().where(F.col("count") > 1).isEmpty()
    st = _state(table)
    # the bulk batch (lsn 20_000+) beats both the original load and the mor updates
    assert st["k00050"] == 50 * 10
    assert st["k01950"] == 1950 * 10


def test_mor_backlog_100_epochs_read_cost_stays_bounded(spark, tmp_table_dir):
    """Adversarial mask-debt bound (round-3 verdict item 4): 100 uncompacted
    MoR epochs over narrow, sliding key bands. The read-side mask must stay
    O(envelope-overlapping winners), not O(backlog): a point read_range's
    physical plan may scan only the few winners files whose key range
    intersects the probe — never all 100 — and the stats() debt gauge must
    report the full backlog until compaction sheds it."""
    import re

    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 10_000), epoch=0)
    n_data_files = len(table.files())

    for e in range(100):
        base = (e * 90) % 9_000
        rows = [
            (f"k{base + off:05d}", 100_000 + e, 0, "U", 7_000_000 + e * 10 + off, "m")
            for off in (0, 30, 60)
        ]
        r = merge_batch(table, _batch(spark, rows), epoch=e + 1, merge_mode="mor")
        assert r.mode == "mor", f"epoch {e + 1} fell back to {r.mode}"

    st = table.stats()
    assert st["mor_files"] == 100
    assert st["mor_mask_rows"] == 300

    # point read over a 60-key band: winners envelopes are ~60 keys wide and
    # slide by 90, so only ~2-3 of the 100 winners files can overlap. Every
    # parquet scan in the plan (data group + mask scan) must be pruned to a
    # handful of paths — an unpruned mask would show a 100-path file index.
    probe = table.read_range("k00500", "k00560")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    path_counts = [int(m) for m in re.findall(r"InMemoryFileIndex\((\d+) paths?\)", plan)]
    assert path_counts, f"no file index in plan:\n{plan[:2000]}"
    assert max(path_counts) <= n_data_files + 5, (
        f"mask/read scan not pruned: file-index sizes {path_counts} "
        f"(backlog=100, data files={n_data_files})"
    )

    # the probed band covers keys 500..560: epochs with base 450 (offs 60)
    # and 540 (offs 0) overlap it — values must reflect the LATEST writer
    got = {r["doc_id"]: r["value_cents"] for r in probe.collect()}
    assert len(got) == 61
    e_450, e_540 = 5, 6  # base = (e*90) % 9000
    assert got["k00510"] == 7_000_000 + e_450 * 10 + 60
    assert got["k00540"] == 7_000_000 + e_540 * 10 + 0
    assert got["k00520"] == 520 * 10  # untouched by any mor epoch

    # compaction sheds the debt; state unchanged
    from etl_spark.table.maintenance import maybe_compact_mor

    maybe_compact_mor(table, max_mor_files=1)
    st2 = table.stats()
    assert st2["mor_files"] == 0
    got2 = {r["doc_id"]: r["value_cents"] for r in table.read_range("k00500", "k00560").collect()}
    assert got2 == got


def test_fast_path_survives_hostile_doc_ids(spark, tmp_table_dir):
    """The microbatch fast path ships batch keys to the driver as Arrow and
    matches them against the target's keys with pyarrow — keys containing
    quotes, backslashes, commas, or non-ASCII must round-trip exactly, on
    either layout (the bucket layout also ships each key's JVM bucket id)."""
    hostile = ["k'quote", 'k"dquote', "k\\back\\slash", "k,comma", "kümlaut中", "k%like_"]
    for layout in (None, {"type": "bucket", "n_buckets": 4}):
        root = f"{tmp_table_dir}/{'bucket' if layout else 'range'}"
        table = LakeTable.create_if_absent(spark, root, SCHEMA, layout=layout)
        seed = _batch(
            spark,
            [(k, i, 0, "U", 100 + i, "s") for i, k in enumerate(hostile)] + [("plain", 50, 0, "U", 1, "s")],
        )
        merge_batch(table, seed, epoch=0)
        # forced-MoR microbatch over the hostile keys exercises the driver
        # resolve's key match end-to-end
        upd = _batch(spark, [(k, 1000 + i, 0, "U", 900 + i, "m") for i, k in enumerate(hostile)])
        r = merge_batch(table, upd, epoch=1, merge_mode="mor")
        assert r.mode == "mor" and r.rows_upserted == len(hostile)
        st = _state(table)
        for i, k in enumerate(hostile):
            assert st[k] == 900 + i, f"key {k!r} lost through the fast path ({layout})"
        assert st["plain"] == 1
        assert len(st) == len(hostile) + 1


def test_cow_removing_last_mor_file_sheds_flag_when_nothing_overlaps(spark, tmp_table_dir):
    """When the CoW rewrite covers every file overlapping the removed
    winners file, no masked copy survives and the output must NOT carry the
    mor flag (no needless mask debt)."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    # single data file (small bulk -> one range partition per core, but all
    # keys in a narrow range so one file may still split; use tiny n)
    merge_batch(table, _batch(spark, [("a", 1, 0, "U", 1, "s"), ("b", 1, 0, "U", 2, "s")]), epoch=0)
    merge_batch(table, _batch(spark, [("a", 2, 0, "U", 9, "s")]), epoch=1, merge_mode="mor")
    assert any(f.get("mor") for f in table.files())
    # CoW batch touching BOTH keys: planning touches every live file
    # (winners + all overlapping data files), nothing is left untouched
    # to overlap the removed winners file -> flag shed
    merge_batch(
        table,
        _batch(spark, [("a", 3, 0, "U", 7, "s"), ("b", 3, 0, "U", 8, "s")]),
        epoch=2,
        merge_mode="cow",
    )
    assert not any(f.get("mor") for f in table.files())
    assert _state(table) == {"a": 7, "b": 8}
