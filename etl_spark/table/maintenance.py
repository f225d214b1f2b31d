"""Table maintenance: small-file compaction, tombstone expiry, orphan GC.

Copy-on-write MERGE (operators/merge.py) rewrites only key-intersecting
files, so over many epochs the table accumulates (a) small files from
low-volume epochs and (b) tombstone rows kept for cross-batch LWW ordering
(table.py docstring). Merge-on-read epochs additionally accumulate
mask-flagged winners files whose superseded victims still sit in older
files. All three degrade scans at 100 TB: small files blow up task
scheduling overhead; tombstones and masked duplicates inflate every read's
filter/join work.

- ``compact``: bin-packs live data files below a size threshold into
  range-partitioned files of the target row count. Reads through the
  mask-applying loader, so the output is current state; the ``mor`` flag is
  kept iff a compacted ``mor`` file may share a key with a live file outside
  the compaction (the output's keys must keep masking those older copies).
  ``LakeTable.commit`` applies that rule to every commit that removes
  files, the merge's and every rewrite here alike.
- ``rewrite_table``: full rewrite of every live file — the guaranteed
  mask-shedding point (output is one clean range-partitioned, one-version-
  per-key layout with no ``mor`` flags).
- ``expire_tombstones``: physically drops tombstone rows whose
  ``_commit_lsn`` is at or below the feed's global low-watermark — i.e. no
  in-flight event can still lose to them, so cross-batch LWW no longer needs
  them. Under MoR the rewrite set is CLOSED over the expired keys' older
  copies (planned by the same broadcast range join as the merge planner):
  dropping a mor tombstone also removes its mask, so every file that could
  hold a masked copy of an expired key must be rewritten in the same commit
  or the dead key would resurrect. The reference's analog is workspace
  auto-clean after a completed run (``src/common/Workspace.scala:25-30``):
  discard state that no future step can observe.

Both run as ordinary snapshot commits, so time travel to the pre-maintenance
snapshot still works until ``expire_snapshots``.

Rewrites write through the table's stage writer (``LakeTable.write_stage``),
the same one the merge uses: the manifest entries of the rewritten files
ride the write job's own stats, and the output is sized from the input
entries' manifest row counts, so a rewrite runs no count and no re-scan of
what it wrote.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from etl_spark.schema import HIDDEN_LSN
from etl_spark.table.table import (
    HIDDEN_DELETED,
    LakeTable,
    TableCommitError,
    layout_buckets,
    may_share_keys,
    validate_layout,
)


def _rewrite(
    table: LakeTable,
    df,
    entries: list[dict],
    target_rows_per_file: int,
    summary: dict,
    expect_parent: int | None = None,
) -> int:
    """Stage + commit a maintenance rewrite of the file ``entries`` (read as
    ``df``), pinned to the snapshot it planned against: without
    ``expect_parent``, a MERGE landing between the planning read and this
    commit would have its output silently undone — the rewrite re-adds rows
    it copied from files the merge just replaced (the classic
    compaction-vs-writer conflict Iceberg validates against). On conflict
    the staged files are removed and TableCommitError surfaces; maintenance
    is re-runnable, so callers simply retry against the new head. Any other
    failure after staging also cleans its debris (gc_orphans covers only
    hard crashes). The rewrite sets no ``mor`` flag itself:
    ``LakeTable.commit`` flags the output iff a removed ``mor`` entry may
    share a key with a live entry outside the rewrite."""
    snap = table.snapshot(expect_parent)
    # output files: ~target_rows_per_file rows each, sized from the inputs'
    # manifest row counts — an upper bound on the rows written (masked and
    # expired rows drop out), known without running a job. Capped at the
    # cluster parallelism, or on bucket tables at the bucket count: bucket
    # ids hash into the n_out partitions, so every bucket stays wholly
    # inside one file (files carry bucket SETS, so membership pruning stays
    # exact) while a small rewrite — one staged-migration stage, a two-file
    # compaction — emits a few files instead of n_buckets near-empty ones.
    cap = layout_buckets(snap) or table.spark.sparkContext.defaultParallelism
    n_rows = sum(f["rows"] for f in entries)
    n_out = max(1, min(cap, (n_rows // target_rows_per_file) + 1))
    stage = table.stage_dir(table.head_id() + 1)
    committed = False
    try:
        add_files, _ = table.write_stage(df, stage, n_out, snap)
        sid = table.commit(
            add_files=add_files,
            remove_paths={f["path"] for f in entries},
            summary=summary,
            expect_parent=expect_parent,
        )
        committed = True
        return sid
    finally:
        if not committed:
            shutil.rmtree(stage, ignore_errors=True)


def compact(table: LakeTable, small_file_rows: int = 100_000, target_rows_per_file: int = 1_000_000) -> int | None:
    """Bin-pack files smaller than ``small_file_rows`` into full-size,
    range-partitioned files. Returns the new snapshot id, or None if fewer
    than two small files exist (nothing to gain). Reads through the
    rename-aware, mask-applying loader so files written under pre-rename
    schema versions are rewritten under the CURRENT column names and
    superseded (MoR-masked) rows are dropped, not duplicated."""
    snap = table.snapshot()
    small = [f for f in snap["files"] if f["rows"] < small_file_rows]
    if len(small) < 2:
        return None
    return _rewrite(
        table,
        table.load_files(small, snap),
        entries=small,
        target_rows_per_file=target_rows_per_file,
        summary={"maintenance": "compact", "files_in": len(small)},
        expect_parent=snap["snapshot_id"],
    )


def compact_mor(table: LakeTable, target_rows_per_file: int = 1_000_000) -> int | None:
    """Targeted MoR-debt compaction: rewrite the winners (mask) files PLUS
    every file that may share a key with one of them
    (``table.may_share_keys``: bucket-local on bucket tables, by key range
    otherwise), through the masked loader, into clean non-mor files. The
    closure holds every older copy of every masked key, so no file outside
    it can keep a mask alive and the output sheds the mor flag without
    touching the rest of the table: O(mask-affected data), not O(table).
    Returns the new snapshot id, or None if no mor files exist."""
    snap = table.snapshot()
    files = snap["files"]
    mor = [f for f in files if f.get("mor")]
    if not mor:
        return None
    entries = [f for f in files if f.get("mor") or any(may_share_keys(f, m) for m in mor)]
    return _rewrite(
        table,
        table.load_files(entries, snap),
        entries=entries,
        target_rows_per_file=target_rows_per_file,
        summary={"maintenance": "compact_mor", "files_in": len(entries)},
        expect_parent=snap["snapshot_id"],
    )


def maybe_compact_mor(
    table: LakeTable,
    max_mor_files: int = 16,
    max_mor_rows: int = 10_000_000,
    target_rows_per_file: int = 1_000_000,
) -> int | None:
    """Auto-compaction policy for long-running ingest loops: shed the MoR
    mask backlog once it exceeds either threshold (winners-file count —
    each adds one entry to every read's mask scan — or total masked-key
    rows, which bound the mask join's build side). Cheap no-op otherwise;
    call it after each merge or on a timer."""
    snap = table.snapshot()
    mor = [f for f in snap["files"] if f.get("mor")]
    if len(mor) < max_mor_files and sum(f["rows"] for f in mor) < max_mor_rows:
        return None
    return compact_mor(table, target_rows_per_file=target_rows_per_file)


def rewrite_table(table: LakeTable, target_rows_per_file: int = 1_000_000) -> int | None:
    """Full rewrite of every live file into a clean range-partitioned,
    one-version-per-key layout — the guaranteed MoR mask-shedding point
    (no output carries the ``mor`` flag). Returns the new snapshot id, or
    None on an empty table."""
    snap = table.snapshot()
    if not snap["files"]:
        return None
    return _rewrite(
        table,
        table.load_files(snap["files"], snap),
        entries=snap["files"],
        target_rows_per_file=target_rows_per_file,
        summary={"maintenance": "rewrite_table", "files_in": len(snap["files"])},
        expect_parent=snap["snapshot_id"],
    )


def migrate_layout_staged(
    table: LakeTable,
    new_layout: dict,
    max_files_per_stage: int | None = 8,
    target_rows_per_file: int = 1_000_000,
    max_stages: int | None = None,
    max_retries: int = 5,
) -> dict:
    """Rewrite every live file under a DIFFERENT physical layout (range <->
    bucket; Iceberg's partition-spec evolution) as a SEQUENCE of bounded
    atomic commits: at 100 TB, one commit rewriting every live file is days
    of un-checkpointed work — one crash restarts it from zero, and the whole
    table's worth of staged files must exist side-by-side before the flip.
    ``max_files_per_stage=None`` rewrites every stale file in ONE stage (a
    small table's whole migration is then a metadata-only begin commit plus
    one rewrite commit). Every stage reads through the masked loader, so MoR
    debt is applied; a stage sheds it when no live file outside the stage
    may hold a masked copy (the ``mor``-flag rule of ``LakeTable.commit``).

    Protocol (resumable by construction — progress lives in the manifest,
    no side state):

    1. **begin** (metadata-only commit): flip the layout descriptor to
       ``new_layout`` and tag every live file entry ``layout_stale``. From
       this commit on, every writer emits NEW-layout files; stale files are
       planned by key RANGE everywhere (their min/max stats are layout-
       independent), and their bucket tags — possibly under an older
       modulus — are never used for exact pruning (``table.current_buckets``
       drops them for merge planning, MoR mask pruning and compaction
       closure alike).
    2. **stage** commits: rewrite up to ``max_files_per_stage`` stale files
       through the masked loader into the new layout (the output keeps the
       mor flag iff a rewritten mor file may share a key with a live file
       outside the stage, decided by ``LakeTable.commit`` as for every
       rewrite). Each stage is pinned to the snapshot it planned
       (``expect_parent``) and retries on concurrent-writer conflicts; a
       crash between stages loses at most one stage of work.
    3. done when no ``layout_stale`` entry remains — there is no final
       flip: the descriptor flipped at begin, and conformance is derivable
       from the manifest (re-invoking resumes / no-ops).

    Reads and merges are correct at EVERY intermediate snapshot; a CoW
    merge touching a stale file rewrites it into the new layout, so
    foreground write traffic also progresses the migration. ``max_stages``
    bounds one invocation (kill/resume simulation, incremental ops).

    Returns ``{"begin": sid | None, "stages": [sid, ...], "done": bool,
    "stale_remaining": int}``.
    """
    validate_layout(new_layout)

    begin_sid: int | None = None
    retries_left = max_retries  # PER-COMMIT budget, reset after each success
    while True:
        snap = table.snapshot()
        if table.layout(snap["snapshot_id"]) == new_layout:
            break
        # begin: descriptor flip + stale-tag every live file, one
        # metadata-only commit (entries keep their added_at, so MoR mask
        # ordering is unchanged). Retried like every other commit here: a
        # concurrent merge landing between snapshot() and commit() trips
        # the expect_parent pin and we re-plan against the new head.
        try:
            begin_sid = table.commit(
                add_files=[{**f, "layout_stale": True} for f in snap["files"]],
                remove_paths={f["path"] for f in snap["files"]},
                new_layout=new_layout,
                summary={"maintenance": "migrate_layout_staged", "phase": "begin", "to": new_layout},
                expect_parent=snap["snapshot_id"],
            )
            break
        except TableCommitError:
            retries_left -= 1
            if retries_left < 0:
                raise

    stages: list[int] = []
    retries_left = max_retries
    while True:
        snap = table.snapshot()
        stale = sorted(
            (f for f in snap["files"] if f.get("layout_stale")),
            key=lambda f: (f["min_key"] is None, f["min_key"] or "", f["path"]),
        )
        if not stale:
            return {"begin": begin_sid, "stages": stages, "done": True, "stale_remaining": 0}
        if max_stages is not None and len(stages) >= max_stages:
            return {
                "begin": begin_sid,
                "stages": stages,
                "done": False,
                "stale_remaining": len(stale),
            }
        picked = stale[:max_files_per_stage]
        try:
            sid = _rewrite(
                table,
                table.load_files(picked, snap),
                entries=picked,
                target_rows_per_file=target_rows_per_file,
                summary={
                    "maintenance": "migrate_layout_staged",
                    "phase": "stage",
                    "files_in": len(picked),
                    "to": new_layout,
                },
                expect_parent=snap["snapshot_id"],
            )
        except TableCommitError:
            # a concurrent merge advanced HEAD between plan and commit —
            # replan against the new head (the merge may even have migrated
            # some of our picked files for us). The budget is PER STAGE —
            # a long migration under steady foreground traffic sees one
            # conflict per stage and must not abort on their total — and
            # only consecutive conflicts on one stage exhaust it.
            retries_left -= 1
            if retries_left < 0:
                raise
            continue
        stages.append(sid)
        retries_left = max_retries


def gc_orphans(table: LakeTable) -> list[str]:
    """Remove data files referenced by NO snapshot — the debris of a write
    that crashed between staging its files and committing (the commit is the
    atomic point; staged-but-uncommitted files are invisible to readers and
    safe to delete). Single-writer assumption: no in-flight write exists when
    this runs (same assumption as the HEAD-rename commit protocol,
    table.py docstring). Returns the removed paths."""
    head = table.head_id()
    referenced = {f["path"] for s in range(head + 1) for f in table.snapshot(s)["files"]}
    removed: list[str] = []
    if not os.path.isdir(table.data_dir):
        return removed
    for d in sorted(os.listdir(table.data_dir)):
        full = os.path.join(table.data_dir, d)
        if not os.path.isdir(full):
            continue
        entries = sorted(os.listdir(full))
        parquet = [os.path.join(full, fn) for fn in entries if fn.endswith(".parquet")]
        if not any(p in referenced for p in parquet):
            # wholly-orphaned stage dir: remove it including _SUCCESS/.crc markers
            removed.extend(parquet)
            shutil.rmtree(full, ignore_errors=True)
            continue
        for p in parquet:
            if p not in referenced:
                os.remove(p)
                removed.append(p)
    return removed


def expire_tombstones(table: LakeTable, low_watermark_lsn: int, target_rows_per_file: int = 1_000_000) -> int | None:
    """Drop tombstone rows with ``_commit_lsn <= low_watermark_lsn``.

    Only files that actually contain such tombstones are rewritten (planned
    from a per-file aggregate, the same touch-minimal strategy as MERGE) —
    PLUS, when any mor-flagged file exists, every file whose key range
    intersects an expired tombstone's key: the tombstone row in a mor file
    IS the mask over the key's older copies, so the copies must die in the
    same commit the mask does. Returns the new snapshot id, or None if no
    file qualifies.
    """
    spark = table.spark
    snap = table.snapshot()
    files = snap["files"]
    if not files:
        return None
    paths = [f["path"] for f in files]
    expirable = F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)) & (
        F.col(HIDDEN_LSN) <= low_watermark_lsn
    )
    # explicit narrow schema (uniform across every schema_version: doc_id is
    # never renamed, hidden cols are constant) — no mergeSchema footer job
    flagged_df = (
        spark.read.schema(f"doc_id string, {HIDDEN_LSN} long, {HIDDEN_DELETED} boolean")
        .parquet(*paths)
        .withColumn("_file", F.input_file_name())
        .where(expirable)
        .select("_file", "doc_id")
    )
    has_mor = any(f.get("mor") for f in files)
    flagged_df = flagged_df.persist()
    try:
        flagged_uris = {r["_file"] for r in flagged_df.select("_file").distinct().collect()}
        # input_file_name returns URIs; commit-log paths are plain
        touched = {p for p in paths if p in flagged_uris or f"file://{p}" in flagged_uris}
        if has_mor and touched:
            # close the rewrite set over the expired keys' possible older
            # copies — the same broadcast key-vs-file-range join the merge
            # planner uses (never a driver-side loop over keys x files)
            stats_df = spark.createDataFrame(
                [(f["path"], f["min_key"], f["max_key"]) for f in files if f["min_key"] is not None],
                "path string, min_key string, max_key string",
            )
            victims = (
                flagged_df.select("doc_id")
                .distinct()
                .join(
                    F.broadcast(stats_df),
                    (F.col("doc_id") >= F.col("min_key")) & (F.col("doc_id") <= F.col("max_key")),
                )
                .select("path")
                .distinct()
                .collect()
            )
            touched |= {r["path"] for r in victims}
            touched |= {f["path"] for f in files if f["min_key"] is None}
    finally:
        flagged_df.unpersist()
    if not touched:
        return None
    touched_entries = [f for f in files if f["path"] in touched]
    return _rewrite(
        table,
        table.load_files(touched_entries, snap).where(~expirable),
        entries=touched_entries,
        target_rows_per_file=target_rows_per_file,
        summary={"maintenance": "expire_tombstones", "low_watermark": low_watermark_lsn},
        expect_parent=snap["snapshot_id"],
    )
