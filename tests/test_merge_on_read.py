"""Merge-on-read: batch-sized winners files whose keys double as equality-
delete masks (table.py docstring). The invariants under test:

- read state after any replay is IDENTICAL to copy-on-write's;
- a MoR epoch rewrites nothing (write amplification = batch size);
- compaction/expiry rewrite points apply + shed masks correctly, including
  the resurrection traps (compacting a mor file away must not unmask its
  victims; expiring a mor tombstone must kill the victims in the same
  commit)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_spark.operators.merge import merge_batch
from etl_spark.table import LakeTable
from etl_spark.table.maintenance import compact, compact_mor, expire_tombstones
from etl_spark.table.table import current_buckets, keeps_mask, may_share_keys

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


def _state(table):
    return {r["doc_id"]: (r["value_cents"], r["source"]) for r in table.read().collect()}


def _bulk(spark, n, lsn0=0):
    return spark.range(n).select(
        F.format_string("k%05d", F.col("id")).alias("doc_id"),
        (F.col("id") + lsn0).alias("commit_lsn"),
        F.lit(0).alias("op_seq"),
        F.lit("U").alias("op"),
        (F.col("id") * 10).alias("value_cents"),
        F.lit("s").alias("source"),
    )


EPOCH_BATCHES = [
    # (rows) — includes out-of-order cross-batch events, tombstones, re-insert
    [("a", 10, 0, "U", 1, "s"), ("b", 11, 0, "U", 2, "s"), ("c", 12, 0, "U", 3, "s")],
    [("a", 20, 0, "U", 4, "s"), ("d", 21, 0, "U", 5, "s"), ("b", 5, 0, "U", 99, "s")],  # stale b
    [("c", 30, 0, "D", None, None), ("e", 31, 0, "U", 6, "s")],  # tombstone c
    [("c", 25, 0, "U", 77, "s"), ("f", 40, 0, "U", 7, "s")],  # stale c vs tombstone
    [("c", 50, 0, "U", 8, "s"), ("a", 15, 0, "U", 55, "s")],  # re-insert c, stale a
]
FINAL = {"a": (4, "s"), "b": (2, "s"), "d": (5, "s"), "e": (6, "s"), "f": (7, "s"), "c": (8, "s")}


@pytest.mark.parametrize("mode", ["mor", "auto"])
def test_mor_replay_matches_cow_final_state(spark, tmp_table_dir, mode):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    n_files = []
    for e, rows in enumerate(EPOCH_BATCHES):
        merge_batch(table, _batch(spark, rows), epoch=e, merge_mode=mode)
        n_files.append(len(table.files()))
    assert _state(table) == FINAL
    # idempotent re-apply still no-ops
    r = merge_batch(table, _batch(spark, EPOCH_BATCHES[2]), epoch=2, merge_mode=mode)
    assert not r.applied
    assert _state(table) == FINAL


def test_mor_epoch_rewrites_nothing(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 2000), epoch=0)
    paths_before = {f["path"] for f in table.files()}
    r = merge_batch(
        table, _batch(spark, [("k00042", 99999, 0, "U", 1, "s")]), epoch=1, merge_mode="mor"
    )
    assert r.applied and r.mode == "mor" and r.files_rewritten == 0
    # every pre-existing file survives untouched; only winners files added
    assert paths_before <= {f["path"] for f in table.files()}
    added = [f for f in table.files() if f["path"] not in paths_before]
    assert added and all(f.get("mor") for f in added)
    assert sum(f["rows"] for f in added) == 1  # batch-sized, not touched-sized
    # masked read: exactly one current version per key
    assert table.read().count() == 2000
    assert table.read().where("doc_id = 'k00042'").collect()[0]["value_cents"] == 1


def test_auto_mode_picks_mor_for_microbatch_and_cow_for_bulk(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    r0 = merge_batch(table, _bulk(spark, 2000), epoch=0)
    assert r0.mode == "cow"  # initial load
    r1 = merge_batch(
        table, _batch(spark, [("k00001", 99999, 0, "U", 1, "s")]), epoch=1, merge_mode="auto"
    )
    assert r1.mode == "mor"  # 1-row batch vs ~500-row touched file
    r2 = merge_batch(table, _bulk(spark, 2000, lsn0=100_000), epoch=2, merge_mode="auto")
    assert r2.mode == "cow"  # bulk re-touch: batch ~ touched slice
    assert table.read().count() == 2000


def test_merge_commits_record_phase_seconds(spark, tmp_table_dir):
    """Every merge commit carries the wall seconds of its phases in its
    summary (bench.py reads them back from the table), in both
    modes: a Spark-written commit records plan, wbuild, write and stats; a
    microbatch MoR commit, resolved and written on the driver, records
    plan, resolve and write."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    r0 = merge_batch(table, _bulk(spark, 2000), epoch=0)
    r1 = merge_batch(
        table, _batch(spark, [("k00001", 99999, 0, "U", 1, "s")]), epoch=1, merge_mode="mor"
    )
    assert (r0.mode, r1.mode) == ("cow", "mor")
    for r in (r0, r1):
        summary = table.snapshot(r.snapshot_id)["summary"]
        assert summary["mode"] == r.mode
        phases = {"cow": {"plan", "wbuild", "write", "stats"}, "mor": {"plan", "resolve", "write"}}
        assert set(summary["phase_s"]) == phases[r.mode]
        assert all(isinstance(v, float) and v >= 0 for v in summary["phase_s"].values())


def test_mor_stale_update_against_masked_tombstone(spark, tmp_table_dir):
    """Cross-batch out-of-order under MoR: a stale update arriving AFTER a
    MoR tombstone must lose to the tombstone row (which lives in the
    winners file, masking the original row)."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("x", 10, 0, "U", 1, "s"), ("y", 11, 0, "U", 2, "s")]), epoch=0)
    merge_batch(table, _batch(spark, [("x", 30, 0, "D", None, None)]), epoch=1, merge_mode="mor")
    assert _state(table) == {"y": (2, "s")}
    merge_batch(table, _batch(spark, [("x", 20, 0, "U", 55, "s")]), epoch=2, merge_mode="mor")
    assert _state(table) == {"y": (2, "s")}  # stale x never resurrects
    merge_batch(table, _batch(spark, [("x", 40, 0, "U", 66, "s")]), epoch=3, merge_mode="mor")
    assert _state(table) == {"y": (2, "s"), "x": (66, "s")}


def test_compact_does_not_unmask_victims(spark, tmp_table_dir):
    """Resurrection trap 1: compacting a mor winners file into a new
    (higher-seq) file must keep masking the old copies of its keys — the
    output inherits the mor flag unless the compaction covered every file."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    # multi-file layout needed so files exist outside the mor envelope
    merge_batch(table, _bulk(spark, 2000), epoch=0, target_rows_per_file=500)
    for e in range(1, 4):
        merge_batch(
            table,
            _batch(spark, [(f"k{e:05d}", 100_000 + e, 0, "U", -e, "s")]),
            epoch=e,
            merge_mode="mor",
        )
    before = _state(table)
    # compact only the small winners files (the bulk files are large)
    sid = compact(table, small_file_rows=100)
    assert sid is not None
    assert any(f.get("mor") for f in table.files())  # flag retained
    assert _state(table) == before
    # the targeted MoR compaction sheds every mask
    assert compact_mor(table) is not None
    assert not any(f.get("mor") for f in table.files())
    assert _state(table) == before


def test_compact_sheds_flag_when_no_outside_file_shares_a_key(spark, tmp_table_dir):
    """Compacting a winners file together with every file that may hold an
    older copy of its keys leaves no masked copy outside the rewrite, so the
    output sheds the mor flag even though other live files stay outside."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("a1", 1, 0, "U", 1, "s"), ("a2", 2, 0, "U", 2, "s")]), epoch=0)
    merge_batch(table, _bulk(spark, 3000), epoch=1)  # big k* files so compact skips them
    merge_batch(table, _batch(spark, [("a1", 100, 0, "U", 11, "s")]), epoch=2, merge_mode="mor")
    before = _state(table)
    assert before["a1"] == (11, "s")
    outside = {f["path"] for f in table.files() if f["rows"] >= 100}
    assert outside and all(f["min_key"] >= "k" for f in table.files() if f["path"] in outside)
    sid = compact(table, small_file_rows=100)
    assert sid is not None
    assert outside <= {f["path"] for f in table.files()}  # the bulk files stayed outside
    assert not any(f.get("mor") for f in table.files())
    assert _state(table) == before
    assert table.read().where("doc_id = 'a1'").count() == 1


def _entry(path, lo, hi, buckets=None, stale=False, mor=False):
    f = {"path": path, "rows": 1, "min_key": lo, "max_key": hi}
    if buckets is not None:
        f["buckets"] = buckets
    if stale:
        f["layout_stale"] = True
    if mor:
        f["mor"] = True
    return f


def test_current_buckets_ignores_stale_and_missing_tags():
    assert current_buckets(_entry("p", "a", "b", buckets=[1, 3])) == [1, 3]
    assert current_buckets(_entry("p", "a", "b", buckets=[1, 3], stale=True)) is None
    assert current_buckets(_entry("p", "a", "b")) is None
    assert current_buckets(_entry("p", "a", "b", buckets=[])) is None


def test_may_share_keys_cases():
    # disjoint current buckets: no shared key, however the ranges overlap
    assert not may_share_keys(_entry("x", "a", "z", buckets=[0, 1]), _entry("y", "a", "z", buckets=[2]))
    assert may_share_keys(_entry("x", "a", "z", buckets=[0, 1]), _entry("y", "a", "z", buckets=[1, 2]))
    # a stale tag proves nothing: the ranges decide
    assert may_share_keys(_entry("x", "a", "m", buckets=[0], stale=True), _entry("y", "k", "z", buckets=[2]))
    assert not may_share_keys(_entry("x", "a", "c", buckets=[2], stale=True), _entry("y", "k", "z", buckets=[2]))
    # an entry without stats can hold any key
    assert may_share_keys(_entry("x", None, None), _entry("y", "k", "z"))
    assert may_share_keys(_entry("x", "a", "c", buckets=[0]), _entry("y", None, None, buckets=[1], stale=True))
    # untagged entries: range overlap, touching ends included
    assert may_share_keys(_entry("x", "a", "k"), _entry("y", "k", "z"))
    assert not may_share_keys(_entry("x", "a", "j"), _entry("y", "k", "z"))
    # one side tagged, the other not: ranges decide
    assert not may_share_keys(_entry("x", "a", "j", buckets=[1]), _entry("y", "k", "z"))


def test_keeps_mask_cases():
    winners = _entry("w", "c", "f", mor=True)
    near = _entry("n", "e", "h")
    far = _entry("f", "p", "z")
    files = [winners, near, far]
    # a masked copy may survive in `near`, left outside
    assert keeps_mask([winners], files)
    # every file that may share a key is rewritten
    assert not keeps_mask([winners, near], files)
    assert not keeps_mask(files, files)
    # no mor entry rewritten: nothing to keep masking
    assert not keeps_mask([near], files)
    # bucket tags prune the outside entries exactly
    bw = _entry("bw", "a", "z", buckets=[1], mor=True)
    assert not keeps_mask([bw], [bw, _entry("b0", "a", "z", buckets=[0])])
    assert keeps_mask([bw], [bw, _entry("b1", "a", "z", buckets=[0, 1])])
    assert keeps_mask([bw], [bw, _entry("s0", "a", "z", buckets=[0], stale=True)])


def test_compact_small_old_file_under_newer_mor_versions(spark, tmp_table_dir):
    """Resurrection trap 2 (the non-range-closed subset): compacting an OLD
    small file whose keys have newer versions in a mor file must drop the
    superseded copies (snapshot-wide masks), not re-emit them above the
    mask's reach."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("a", 1, 0, "U", 1, "s"), ("b", 2, 0, "U", 2, "s")]), epoch=0)
    merge_batch(table, _bulk(spark, 3000), epoch=1)  # big files so compact skips them
    merge_batch(table, _batch(spark, [("a", 100, 0, "U", 11, "s")]), epoch=2, merge_mode="mor")
    before = _state(table)
    assert before["a"] == (11, "s")
    # compacts the epoch-0 small files AND the mor winners file together
    sid = compact(table, small_file_rows=100)
    assert sid is not None
    after = _state(table)
    assert after == before  # 'a' is still 11 — v1 did not resurrect
    assert table.read().where("doc_id = 'a'").count() == 1


def test_compact_mor_sheds_all_masks_without_full_rewrite(spark, tmp_table_dir):
    """Targeted debt compaction: rewrites only the winners files + their
    range-overlapping victims, output carries no mor flag, state unchanged,
    and files outside the closure are untouched."""
    from etl_spark.table.maintenance import maybe_compact_mor

    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    # multi-file layout needed so files exist outside the mor envelope
    merge_batch(table, _bulk(spark, 2000), epoch=0, target_rows_per_file=500)
    for e in range(1, 4):
        merge_batch(
            table,
            _batch(spark, [(f"k0000{e}", 100_000 + e, 0, "U", -e, "m")]),
            epoch=e,
            merge_mode="mor",
        )
    before = _state(table)
    untouched_paths = {
        f["path"] for f in table.files() if not f.get("mor") and f["min_key"] > "k00005"
    }
    assert untouched_paths, "test needs files outside the mor key envelope"
    # below thresholds: policy no-ops
    assert maybe_compact_mor(table, max_mor_files=16) is None
    # above: sheds every mask
    sid = maybe_compact_mor(table, max_mor_files=2)
    assert sid is not None
    assert not any(f.get("mor") for f in table.files())
    assert untouched_paths <= {f["path"] for f in table.files()}  # closure was targeted
    assert _state(table) == before
    assert compact_mor(table) is None  # nothing left to do


def test_expire_tombstones_kills_victims_with_the_mask(spark, tmp_table_dir):
    """Resurrection trap 3: expiring a mor tombstone removes the mask over
    the key's original row — the victim file must be rewritten in the SAME
    commit, else the deleted key resurrects."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 2000), epoch=0)
    merge_batch(
        table, _batch(spark, [("k00042", 99999, 0, "D", None, None)]), epoch=1, merge_mode="mor"
    )
    assert table.read().count() == 1999
    sid = expire_tombstones(table, low_watermark_lsn=99999)
    assert sid is not None
    assert table.read().count() == 1999  # k00042 gone for good
    assert table.read().where("doc_id = 'k00042'").count() == 0
    # and the physical tombstone row is gone too
    assert table.read(include_hidden=True, include_deleted=True).where("_deleted").count() == 0


def test_mor_read_range_with_pruned_masks(spark, tmp_table_dir):
    """Range reads apply masks correctly whether the winners files overlap
    the requested range (superseded/tombstoned rows must not surface) or
    not (the mask prunes away entirely)."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 2000), epoch=0)
    merge_batch(
        table,
        _batch(
            spark,
            [
                ("k00100", 99999, 0, "U", -1, "m"),
                ("k00101", 99998, 0, "D", None, None),
            ],
        ),
        epoch=1,
        merge_mode="mor",
    )
    # overlapping range: new version wins, tombstoned key vanishes
    got = {r["doc_id"]: r["value_cents"] for r in table.read_range("k00099", "k00102").collect()}
    assert got == {"k00099": 990, "k00100": -1, "k00102": 1020}
    # disjoint range: mask prunes to nothing, plain rows come back
    got2 = {r["doc_id"]: r["value_cents"] for r in table.read_range("k01500", "k01502").collect()}
    assert got2 == {"k01500": 15000, "k01501": 15010, "k01502": 15020}


def test_mor_time_travel_and_diff(spark, tmp_table_dir):
    """Snapshot reads and the CDC-out diff must see masked state at every
    snapshot boundary."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _batch(spark, [("a", 1, 0, "U", 1, "s"), ("b", 2, 0, "U", 2, "s")]), epoch=0)
    s0 = table.head_id()
    merge_batch(table, _batch(spark, [("a", 10, 0, "U", 5, "s")]), epoch=1, merge_mode="mor")
    s1 = table.head_id()
    assert {r["doc_id"]: r["value_cents"] for r in table.read(sid=s0).collect()} == {"a": 1, "b": 2}
    assert {r["doc_id"]: r["value_cents"] for r in table.read(sid=s1).collect()} == {"a": 5, "b": 2}
    d = {r["doc_id"]: (r["change_op"], r["value_cents"]) for r in table.diff(s0, s1).collect()}
    assert d == {"a": ("U", 5)}


def test_mask_seq_mapping_join_fallback(spark, tmp_table_dir, monkeypatch):
    """Above MAX_LITERAL_SEQ_MAP entries the basename->commit-order mapping
    broadcast-joins instead of inlining a literal map (a 10^5-file table
    would bloat every plan); force the fallback and check masked reads."""
    import etl_spark.table.table as tt

    monkeypatch.setattr(tt, "MAX_LITERAL_SEQ_MAP", 0)
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 1000), epoch=0)
    merge_batch(table, _batch(spark, [("k00007", 99999, 0, "U", -7, "m")]), epoch=1, merge_mode="mor")
    merge_batch(table, _batch(spark, [("k00007", 99998, 0, "U", 55, "m")]), epoch=2, merge_mode="mor")  # stale
    assert table.read().count() == 1000
    assert table.read().where("doc_id = 'k00007'").collect()[0]["value_cents"] == -7


def test_table_stats_track_mor_debt(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 1000), epoch=0)
    s0 = table.stats()
    assert s0["mor_files"] == 0 and s0["rows"] == 1000 and s0["fenced_epochs"] == 1
    merge_batch(table, _batch(spark, [("k00001", 99999, 0, "U", 1, "s")]), epoch=1, merge_mode="mor")
    s1 = table.stats()
    assert s1["mor_files"] == 1 and s1["mor_mask_rows"] == 1
    assert s1["rows"] == 1001  # physical rows include the superseded copy
    assert table.read().count() == 1000
    compact_mor(table)
    s2 = table.stats()
    assert s2["mor_files"] == 0 and s2["rows"] == 1000


def test_mor_schema_evolution_and_rename(spark, tmp_table_dir):
    """MoR winners files written under different schema versions reconcile
    through the same field-id loader as CoW files."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
    merge_batch(table, _bulk(spark, 500), epoch=0)
    table.update_schema(add_columns=[("extra", "bigint")])
    e = spark.createDataFrame(
        [("k00007", 99999, 0, "U", 1, "s", 42)],
        "doc_id string, commit_lsn long, op_seq int, op string, value_cents long, source string, extra long",
    )
    r = merge_batch(table, e, epoch=1, merge_mode="mor")
    assert r.mode == "mor"
    table.rename_column("value_cents", "amount_cents")
    got = {r["doc_id"]: (r["amount_cents"], r["extra"]) for r in table.read().where("doc_id in ('k00007','k00008')").collect()}
    assert got == {"k00007": (1, 42), "k00008": (80, None)}


def _equivalence_steps(seed: int) -> list:
    """Random epochs for the driver/Spark MoR equivalence test: ("batch",
    columns, rows) merges and ("schema", kwargs) evolution steps. A model of
    the stored (lsn, seq) per key shapes the events: fresh updates, deletes,
    deletes of absent keys, re-inserts after a delete, stale events (a lower
    lsn; an equal lsn with a lower, the same or a higher seq) and one
    all-stale batch."""
    import random

    rng = random.Random(seed)
    keys = [f"k{i:03d}" for i in range(40)]
    stored: dict[str, tuple[int, int]] = {}
    deleted: set[str] = set()
    cols = ["value_cents", "source"]
    lsn = 1_000
    steps = []

    def fresh(k, op="U"):
        nonlocal lsn
        lsn += rng.randint(1, 5)
        return (k, lsn, rng.randint(0, 2), op)

    def stale(k):
        s_lsn, s_seq = stored[k]
        kind = rng.choice(["lower_lsn", "lower_seq", "same_version", "higher_seq"])
        if kind == "lower_lsn":
            return (k, s_lsn - rng.randint(1, 3), rng.randint(0, 5), "U")
        if kind == "lower_seq" and s_seq > 0:
            return (k, s_lsn, s_seq - 1, "U")
        if kind == "same_version":
            return (k, s_lsn, s_seq, "U")  # a replayed version: wins (>=)
        return (k, s_lsn, s_seq + 1, rng.choice(["U", "D"]))  # equal lsn, higher seq: wins

    for e in range(9):
        if e == 3:
            steps.append(("schema", {"add_columns": [("score", "int")]}))
            cols = cols + ["score"]
        elif e == 5:
            steps.append(("schema", {"widen": {"score": "bigint"}}))
        elif e == 6:
            steps.append(("schema", {"renames": {"source": "origin"}}))
            cols = ["value_cents", "origin", "score"]
        known = sorted(stored)
        if e == 0:
            events = [fresh(k) for k in keys[:24]]
        elif e == 7:
            events = [(k, stored[k][0] - 1, 0, "U") for k in rng.sample(known, 6)]  # all stale
        else:
            events = [fresh(k) for k in rng.sample(keys, 5)]
            events += [fresh(k, "D") for k in rng.sample(known, 2)]
            events += [fresh(f"x{e:02d}", "D")]  # delete of an absent key
            events += [fresh(k) for k in sorted(deleted)[:2]]  # re-insert after a delete
            events += [stale(k) for k in rng.sample(known, 4)]
        by_key: dict[str, tuple] = {}
        for ev in events:
            if ev[0] not in by_key or ev[1:3] > by_key[ev[0]][1:3]:
                by_key[ev[0]] = ev
        rows = []
        for k, ev_lsn, seq, op in by_key.values():
            payload = {"value_cents": None, "source": None, "origin": None, "score": None}
            if op == "U":
                payload = {"value_cents": ev_lsn * 10, "source": f"s{e}", "origin": f"o{e}", "score": seq}
            rows.append((k, ev_lsn, seq, op, *(payload[c] for c in cols)))
            if k not in stored or (ev_lsn, seq) >= stored[k]:
                stored[k] = (ev_lsn, seq)
                (deleted.add if op == "D" else deleted.discard)(k)
        steps.append(("batch", list(cols), rows))
    return steps


_EQUIV_TYPES = {"value_cents": "long", "source": "string", "origin": "string", "score": "int"}


def _equivalence_run(spark, root: str, layout: str, steps: list, mode: str = "mor") -> dict:
    """Apply ``steps`` to a fresh table, merging under ``mode``; return
    every MergeResult, every commit's entries (paths aside), lineage and
    fences, and the final rows with hidden columns and tombstones."""
    from etl_spark.table.maintenance import migrate_layout_staged

    bucket4 = {"type": "bucket", "n_buckets": 4}
    table = LakeTable.create_if_absent(spark, root, SCHEMA, layout=bucket4 if layout == "bucket" else None)
    results = []
    epoch = 0
    for step in steps:
        if step[0] == "schema":
            table.update_schema(**step[1])
            continue
        _, cols, rows = step
        types = dict(_EQUIV_TYPES, score="bigint" if "origin" in cols else "int")
        ddl = ", ".join(["doc_id string, commit_lsn long, op_seq int, op string"] + [f"{c} {types[c]}" for c in cols])
        results.append(merge_batch(table, spark.createDataFrame(rows, ddl), epoch=epoch, merge_mode=mode))
        epoch += 1
        if layout == "half_migrated" and epoch == 2:
            # two range files and a winners file; rewrite one into buckets
            migrate_layout_staged(table, bucket4, max_files_per_stage=1, max_stages=1)
    if layout == "half_migrated" and mode == "mor":
        # a copy-on-write epoch migrates the files it touches
        assert any(f.get("layout_stale") for f in table.files())
    commits = [
        (
            [{k: v for k, v in f.items() if k != "path"} for f in s["files"]],
            s["lineage"],
            s["fences"],
            s["summary"].get("mode"),
        )
        for s in table.snapshots()
    ]
    rows = sorted(map(tuple, table.read(include_hidden=True, include_deleted=True).collect()), key=repr)
    modes = [set(s["summary"].get("phase_s", {})) for s in table.snapshots() if s["summary"].get("mode") == "mor"]
    return {"results": results, "commits": commits, "rows": rows, "mor_phases": modes}


@pytest.mark.parametrize("layout,seed", [("range", 7), ("bucket", 8), ("half_migrated", 9)])
def test_driver_mor_resolve_matches_spark_arm(spark, tmp_table_dir, monkeypatch, layout, seed):
    """Random epochs commit the same rows, manifest entries (paths aside),
    lineage, fences and MergeResults through the driver-side MoR resolve
    and write as through the Spark MoR arm, which a touched-rows bound of 0
    forces."""
    import etl_spark.operators.merge as merge

    steps = _equivalence_steps(seed)
    driver = _equivalence_run(spark, f"{tmp_table_dir}/driver", layout, steps)
    with monkeypatch.context() as mp:
        mp.setattr(merge, "DRIVER_MAX_TOUCHED_ROWS", 0)
        spark_arm = _equivalence_run(spark, f"{tmp_table_dir}/spark", layout, steps)
    assert driver["mor_phases"] and all(p == {"plan", "resolve", "write"} for p in driver["mor_phases"])
    assert spark_arm["mor_phases"] and all("wbuild" in p for p in spark_arm["mor_phases"])
    assert driver["results"] == spark_arm["results"]
    for i, (a, b) in enumerate(zip(driver["commits"], spark_arm["commits"])):
        assert a == b, f"commit {i} differs"
    assert len(driver["commits"]) == len(spark_arm["commits"])
    assert driver["rows"] == spark_arm["rows"]
    # the all-stale epoch applied nothing and fenced partition -1
    stale = driver["results"][7]
    assert (stale.rows_upserted, stale.rows_deleted, stale.files_added) == (0, 0, 0)
    assert [f["partition_id"] for f in driver["commits"][stale.snapshot_id][2]] == [-1]


@pytest.mark.parametrize(
    "layout,seed", [("range", 7), ("bucket", 8), ("half_migrated", 9)], ids=["range", "bucket", "half_migrated"]
)
def test_cow_and_mor_epochs_agree(spark, tmp_table_dir, layout, seed):
    """Both merge modes pick their winners by one rule, and copy-on-write
    only adds the touched rows no change beats: the same random epochs
    (add/widen/rename steps; stale, tie and re-insert events) leave the
    same rows, per-commit lineage and fence ids, and per-epoch counts."""
    steps = _equivalence_steps(seed)
    cow = _equivalence_run(spark, f"{tmp_table_dir}/cow", layout, steps, mode="cow")
    mor = _equivalence_run(spark, f"{tmp_table_dir}/mor", layout, steps, mode="mor")
    assert {r.mode for r in cow["results"]} == {"cow"} and "mor" in {r.mode for r in mor["results"]}
    assert cow["rows"] == mor["rows"]

    def lineage_and_fences(run):
        return [
            (lineage, [(f["checkpoint_epoch"], f["partition_id"]) for f in fences])
            for _, lineage, fences, _ in run["commits"]
        ]

    assert lineage_and_fences(cow) == lineage_and_fences(mor)

    def counts(run):
        return [(r.rows_upserted, r.rows_deleted, r.applied) for r in run["results"]]

    assert counts(cow) == counts(mor)


@pytest.mark.parametrize("layout", [None, {"type": "bucket", "n_buckets": 4}], ids=["range", "bucket"])
def test_driver_winners_write_splits_files_by_target_rows(spark, tmp_table_dir, layout):
    """A driver-written winners set larger than ``target_rows_per_file``
    splits into ``n_changes // target_rows_per_file + 1`` files at most, each
    entry's rows, key range and bucket set matching the file it names, and
    every bucket wholly inside one file."""
    import pyarrow.parquet as pq

    table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA, layout=layout)
    merge_batch(table, _bulk(spark, 200), epoch=0)
    upd = _batch(spark, [(f"k{i:05d}", 1_000 + i, 0, "U", -i, "u") for i in range(0, 200, 8)])
    r = merge_batch(table, upd, epoch=1, merge_mode="mor", target_rows_per_file=10)
    snap = table.snapshot(r.snapshot_id)
    assert r.mode == "mor" and "resolve" in snap["summary"]["phase_s"]
    added = [f for f in snap["files"] if f["added_at"] == r.snapshot_id]
    assert 1 < len(added) <= 25 // 10 + 1 and sum(f["rows"] for f in added) == 25
    seen_buckets: list[int] = []
    for f in added:
        keys = pq.read_table(f["path"], columns=["doc_id"]).column("doc_id").to_pylist()
        assert keys == sorted(keys) and (len(keys), keys[0], keys[-1]) == (f["rows"], f["min_key"], f["max_key"])
        seen_buckets += f.get("buckets", [])
    assert len(seen_buckets) == len(set(seen_buckets))
    assert _state(table)["k00008"] == (-8, "u") and table.read().count() == 200


def _run_every_writer(spark, root: str, layout: dict | None, monkeypatch) -> tuple:
    """Run each manifest writer once on a fresh table: a CoW bulk merge, a
    driver MoR epoch, a Spark MoR epoch, ``compact`` of the two winners
    files, a CoW merge that removes the compacted winners file,
    ``compact_mor``, ``expire_tombstones``, a two-stage
    ``migrate_layout_staged`` to the other layout under MoR debt and a
    rename through ``update_schema``. Returns the table, every merged event
    as a pandas frame, and the merge results."""
    import pandas as pd

    import etl_spark.operators.merge as merge
    from etl_spark.table.maintenance import migrate_layout_staged

    bucket4 = {"type": "bucket", "n_buckets": 4}
    table = LakeTable.create_if_absent(spark, root, SCHEMA, layout=layout)
    bulk = _bulk(spark, 400)
    events = [bulk.toPandas()]
    results = {"bulk": merge_batch(table, bulk, epoch=0, target_rows_per_file=100)}

    def merge_rows(name, epoch, rows, mode):
        events.append(pd.DataFrame(rows, columns=events[0].columns))
        results[name] = merge_batch(table, _batch(spark, rows), epoch=epoch, merge_mode=mode)

    merge_rows("driver_mor", 1, [(f"k{i:05d}", 1_000 + i, 0, "U", -i, "d") for i in (10, 130, 250, 370)], "mor")
    with monkeypatch.context() as mp:
        mp.setattr(merge, "DRIVER_MAX_TOUCHED_ROWS", 0)
        merge_rows(
            "spark_mor",
            2,
            [("k00020", 2_000, 0, "D", None, None), ("k00140", 2_001, 0, "U", -140, "p"), ("k00010", 900, 0, "U", 0, "x")],
            "mor",
        )
    assert compact(table, small_file_rows=50) is not None
    merge_rows("cow_removes_winners", 3, [("k00010", 3_000, 1, "U", 7, "c")], "cow")
    assert compact_mor(table) is not None
    assert expire_tombstones(table, low_watermark_lsn=10_000) is not None
    merge_rows("mor_debt", 4, [("k00200", 4_000, 0, "U", 2, "m"), ("k00390", 4_001, 0, "D", None, None)], "mor")
    stages = migrate_layout_staged(
        table,
        {"type": "range"} if layout else bucket4,
        max_files_per_stage=-(-len(table.files()) // 2),
    )
    assert stages["done"] and len(stages["stages"]) == 2
    table.update_schema(renames={"source": "origin"})
    return table, pd.concat(events, ignore_index=True), results


@pytest.mark.parametrize("layout", [None, {"type": "bucket", "n_buckets": 4}], ids=["range", "bucket(4)"])
def test_every_writer_commits_tagged_manifest(spark, tmp_table_dir, monkeypatch, layout):
    """Readers index the manifest tags directly, so every writer must leave
    them: each entry of every snapshot carries an int ``schema_version`` and
    ``added_at``, and each snapshot its ``layout`` and ``field_ids``. The
    CoW merge that removes a winners file inherits the mor flag from the
    commit, and the final rows match the fold of every merged event."""
    from etl_spark.oracle import assert_state_equal, replay_oracle

    table, events, results = _run_every_writer(spark, tmp_table_dir, layout, monkeypatch)
    modes = {name: (r.mode, set(table.snapshot(r.snapshot_id)["summary"]["phase_s"])) for name, r in results.items()}
    assert modes["driver_mor"] == ("mor", {"plan", "resolve", "write"})
    assert modes["spark_mor"][0] == "mor" and "wbuild" in modes["spark_mor"][1]
    assert modes["cow_removes_winners"][0] == "cow"
    cow = table.snapshot(results["cow_removes_winners"].snapshot_id)
    removed = {f["path"] for f in table.files(cow["parent_id"])} - {f["path"] for f in cow["files"]}
    assert any(f.get("mor") for f in table.files(cow["parent_id"]) if f["path"] in removed)
    added = [f for f in cow["files"] if f["added_at"] == cow["snapshot_id"]]
    assert added and all(f.get("mor") for f in added)
    for s in table.snapshots():
        assert isinstance(s["layout"], dict) and isinstance(s["field_ids"], dict), s["snapshot_id"]
        for f in s["files"]:
            assert isinstance(f["schema_version"], int) and isinstance(f["added_at"], int), (s["snapshot_id"], f)
    expected = replay_oracle(events, payload_cols=["value_cents", "source"]).rename(columns={"source": "origin"})
    assert_state_equal(table.read(include_hidden=True).toPandas(), expected)


def test_files_from_observation_bails_on_index_collision(tmp_path):
    """A write task can emit MULTIPLE files for one partition index (e.g.
    spark.sql.files.maxRecordsPerFile in the user's session produces
    part-00000-...-c000 and -c001). The index->file bijection is then
    broken; the builder must return None (fall back to the distributed
    stats scan) instead of silently committing only one of the files."""
    import os

    from etl_spark.table.table import _files_from_stats

    stage = str(tmp_path)
    for fn in (
        "part-00000-aaaa-c000.snappy.parquet",
        "part-00000-aaaa-c001.snappy.parquet",
        "part-00001-aaaa-c000.snappy.parquet",
    ):
        open(os.path.join(stage, fn), "w").close()
    metrics = {
        "fcnt_0": 10, "fmin_0": "a", "fmax_0": "b",
        "fcnt_1": 5, "fmin_1": "c", "fmax_1": "d",
    }
    assert _files_from_stats(metrics, stage, 2, schema_version=0, bucketed=False) is None
    # and nothing was deleted while bailing out
    assert len(os.listdir(stage)) == 3


def test_merge_correct_under_max_records_per_file(spark, tmp_table_dir):
    """End-to-end: with maxRecordsPerFile forcing multi-file partitions, the
    merge must still commit EVERY row (via the fallback stats scan)."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try:
        table = LakeTable.create_if_absent(spark, tmp_table_dir, SCHEMA)
        rows = [(f"k{i:03d}", i + 1, 0, "U", i * 10, "s") for i in range(100)]
        r = merge_batch(table, _batch(spark, rows), epoch=0)
        assert r.applied and r.rows_upserted == 100
        assert table.read().count() == 100
        # manifest row counts must reconcile with the data
        assert sum(f["rows"] for f in table.files()) == 100
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
