"""Table maintenance: small-file compaction, tombstone expiry, staged layout
migration, orphan GC.

Copy-on-write MERGE (operators/merge.py) rewrites only key-intersecting
files, so over many epochs the table accumulates (a) small files from
low-volume epochs and (b) tombstone rows kept for cross-batch LWW ordering
(table.py docstring). Merge-on-read epochs additionally accumulate
mask-flagged winners files whose superseded victims still sit in older
files. All three degrade scans at 100 TB: small files blow up task
scheduling overhead; tombstones and masked duplicates inflate every read's
filter/join work.

Every rewrite commits through ONE path, ``_rewrite(table, snap, entries,
summary, expire_at_or_below=None)``: it reads the picked entries of
``snap`` masked by the full snapshot's ``mor`` files (so the output is
current state), drops the tombstones at or below the watermark, writes one
stage and commits pinned to ``snap``. The output is sized from the input
entries' manifest row counts, so a rewrite runs no count and no re-scan of
what it wrote. The read and write take one of two arms: a range-table
rewrite small enough for one output file runs on the driver
(``LakeTable.read_files_local`` + ``LakeTable.write_stage_local``, the
pyarrow pair the merge's driver arm writes with — no Spark job); every
other rewrite reads through ``LakeTable.load_files`` and writes through
``LakeTable.write_stage``, whose manifest entries ride the write job's own
stats. ``LakeTable.commit`` keeps the ``mor`` flag on the output iff a
rewritten ``mor`` entry may share a key with a live entry outside the
rewrite. The maintenance functions only pick the entries:

- ``compact``: the live files below a size threshold.
- ``compact_mor`` (``maybe_compact_mor``: its backlog policy): the winners
  files plus every file that may share a key with one of them — the
  mask-shedding point.
- ``migrate_layout_staged``: a few ``layout_stale`` files per stage.
- ``expire_tombstones``: the files holding tombstone rows whose
  ``_commit_lsn`` is at or below the feed's global low-watermark — i.e. no
  in-flight event can still lose to them, so cross-batch LWW no longer needs
  them; the rewrite drops those rows. Under MoR the rewrite set is CLOSED over
  the expired keys' older copies (planned by ``LakeTable.touched_files``,
  the merge's key->file join, bucket-exact on bucket tables): dropping a mor
  tombstone also removes its mask, so every file that could hold a masked
  copy of an expired key must be rewritten in the same commit or the dead
  key would resurrect. The reference's analog is workspace auto-clean after
  a completed run (``src/common/Workspace.scala:25-30``): discard state that
  no future step can observe.

All run as ordinary snapshot commits, so time travel to the pre-maintenance
snapshot still works until ``expire_snapshots``.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.compute as pc
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

# A rewrite writes ~this many rows per output file.
TARGET_ROWS_PER_FILE = 1_000_000

# maybe_compact_mor compacts once the winners files hold this many rows.
MAX_MOR_ROWS = 10_000_000


def _expired(low_watermark_lsn: int, arrow: bool = False):
    """The tombstone-expiry rule — a tombstone row at or below the
    watermark, ``coalesce(_deleted, false) AND _commit_lsn <= w`` — as a
    Spark Column, or with ``arrow`` as a pyarrow Expression: one definition
    for both rewrite arms and ``expire_tombstones``' flagged-row scan."""
    if arrow:
        deleted, lsn = pc.coalesce(pc.field(HIDDEN_DELETED), pc.scalar(False)), pc.field(HIDDEN_LSN)
    else:
        deleted, lsn = F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)), F.col(HIDDEN_LSN)
    return deleted & (lsn <= low_watermark_lsn)


def _rewrite(
    table: LakeTable, snap: dict, entries: list[dict], summary: dict, expire_at_or_below: int | None = None
) -> int:
    """Rewrite the file ``entries`` of ``snap`` — their current rows, less
    the tombstones at or below ``expire_at_or_below`` (``_expired``) — and
    commit pinned to ``snap``: a MERGE landing between the planning read
    and this commit would otherwise have its output silently undone, as the
    rewrite re-adds rows it copied from files the merge just replaced (the
    classic compaction-vs-writer conflict Iceberg validates against). On
    conflict the staged files are removed and TableCommitError surfaces;
    maintenance is re-runnable, so callers simply retry against the new
    head. Any other failure after staging also cleans its debris
    (gc_orphans covers only hard crashes). The rewrite sets no ``mor`` flag
    itself: ``LakeTable.commit`` flags the output iff a removed ``mor``
    entry may share a key with a live entry outside the rewrite.

    Two arms, one contract. A range-table rewrite whose entries hold fewer
    than ``TARGET_ROWS_PER_FILE`` manifest rows — one output file — runs on
    the driver: ``LakeTable.read_files_local`` then
    ``LakeTable.write_stage_local``, no Spark job. Every other rewrite reads
    through ``LakeTable.load_files`` and writes through
    ``LakeTable.write_stage``: a bucket table needs each row's JVM xxhash64
    bucket id, and a multi-file output a parallel write. The commit summary
    records ``arm``, ``rows_in``/``rows_out``, ``files_out``, ``bytes_out``
    and the ``read``/``write`` seconds (on the Spark arm the scan runs
    inside the write job, so ``read`` is only its plan). Returns the new
    snapshot id."""
    # output files: ~TARGET_ROWS_PER_FILE rows each, sized from the inputs'
    # manifest row counts — an upper bound on the rows written (masked and
    # expired rows drop out), known without running a job. Capped at the
    # cluster parallelism, or on bucket tables at the bucket count: bucket
    # ids hash into the n_out partitions, so every bucket stays wholly
    # inside one file (files carry bucket SETS, so membership pruning stays
    # exact) while a small rewrite — one staged-migration stage, a two-file
    # compaction — emits a few files instead of n_buckets near-empty ones.
    n_buckets = layout_buckets(snap)
    cap = n_buckets or table.spark.sparkContext.defaultParallelism
    rows_in = sum(f["rows"] for f in entries)
    n_out = max(1, min(cap, (rows_in // TARGET_ROWS_PER_FILE) + 1))
    # the driver arm's bound is the one-file bound itself, not n_out == 1:
    # a cap of 1 must not pull an arbitrarily large rewrite onto the driver
    local = not n_buckets and rows_in < TARGET_ROWS_PER_FILE
    stage = table.stage_dir(snap["snapshot_id"] + 1)
    committed = False
    try:
        t0 = time.perf_counter()
        if local:
            tbl = table.read_files_local(entries, snap)
            if expire_at_or_below is not None:
                tbl = tbl.filter(~_expired(expire_at_or_below, arrow=True))
            t1 = time.perf_counter()
            add_files = table.write_stage_local(tbl, stage, 1, snap)
        else:
            df = table.load_files(entries, snap)
            if expire_at_or_below is not None:
                df = df.where(~_expired(expire_at_or_below))
            t1 = time.perf_counter()
            add_files, _ = table.write_stage(df, stage, n_out, snap)
        t2 = time.perf_counter()
        sid = table.commit(
            add_files=add_files,
            remove_paths={f["path"] for f in entries},
            summary={
                **summary,
                "arm": "local" if local else "spark",
                "rows_in": rows_in,
                "rows_out": sum(f["rows"] for f in add_files),
                "files_out": len(add_files),
                "bytes_out": sum(os.path.getsize(f["path"]) for f in add_files),
                "phase_s": {"read": round(t1 - t0, 4), "write": round(t2 - t1, 4)},
            },
            expect_parent=snap["snapshot_id"],
        )
        committed = True
        return sid
    finally:
        if not committed:
            shutil.rmtree(stage, ignore_errors=True)


def compact(table: LakeTable, small_file_rows: int = 100_000) -> int | None:
    """Bin-pack files smaller than ``small_file_rows`` into full-size
    files. Returns the new snapshot id, or None if fewer than two small
    files exist (nothing to gain). The masked, rename-aware read rewrites
    files of pre-rename schema versions under the CURRENT column names and
    drops superseded (MoR-masked) rows instead of duplicating them."""
    snap = table.snapshot()
    small = [f for f in snap["files"] if f["rows"] < small_file_rows]
    if len(small) < 2:
        return None
    return _rewrite(table, snap, small, {"maintenance": "compact", "files_in": len(small)})


def compact_mor(table: LakeTable) -> int | None:
    """Targeted MoR-debt compaction: rewrite the winners (mask) files PLUS
    every file that may share a key with one of them
    (``table.may_share_keys``: bucket-local on bucket tables, by key range
    otherwise) into clean non-mor files. The closure holds every older copy
    of every masked key, so no file outside it can keep a mask alive and
    the output sheds the mor flag without touching the rest of the table:
    O(mask-affected data), not O(table). Returns the new snapshot id, or
    None if no mor files exist."""
    snap = table.snapshot()
    files = snap["files"]
    mor = [f for f in files if f.get("mor")]
    if not mor:
        return None
    entries = [f for f in files if f.get("mor") or any(may_share_keys(f, m) for m in mor)]
    return _rewrite(table, snap, entries, {"maintenance": "compact_mor", "files_in": len(entries)})


def maybe_compact_mor(table: LakeTable, max_mor_files: int = 16) -> int | None:
    """Auto-compaction policy for long-running ingest loops: shed the MoR
    mask backlog once it reaches ``max_mor_files`` winners files (each adds
    one entry to every read's mask scan) or ``MAX_MOR_ROWS`` masked-key rows
    (they bound the mask join's build side). Cheap no-op otherwise; call it
    after each merge or on a timer."""
    mor = [f for f in table.snapshot()["files"] if f.get("mor")]
    if len(mor) < max_mor_files and sum(f["rows"] for f in mor) < MAX_MOR_ROWS:
        return None
    return compact_mor(table)


def migrate_layout_staged(
    table: LakeTable,
    new_layout: dict,
    max_files_per_stage: int | None = 8,
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
       (``expect_parent``); a crash between stages loses at most one stage
       of work.
    3. done when no ``layout_stale`` entry remains — there is no final
       flip: the descriptor flipped at begin, and conformance is derivable
       from the manifest (re-invoking resumes / no-ops).

    Reads and merges are correct at EVERY intermediate snapshot; a CoW
    merge touching a stale file rewrites it into the new layout, so
    foreground write traffic also progresses the migration. ``max_stages``
    bounds one invocation (kill/resume simulation, incremental ops). The
    begin and every stage replan on a concurrent-writer conflict, up to
    ``max_retries`` times in a row per commit.

    Returns ``{"begin": sid | None, "stages": [sid, ...], "done": bool,
    "stale_remaining": int}``.
    """
    validate_layout(new_layout)
    begin_sid: int | None = None
    stages: list[int] = []
    retries_left = max_retries  # PER-COMMIT budget, reset after each success
    while True:
        snap = table.snapshot()
        try:
            if not stages and snap["layout"] != new_layout:
                # begin: descriptor flip + stale-tag every live file, one
                # metadata-only commit (entries keep their added_at, so MoR
                # mask ordering is unchanged)
                begin_sid = table.commit(
                    add_files=[{**f, "layout_stale": True} for f in snap["files"]],
                    remove_paths={f["path"] for f in snap["files"]},
                    new_layout=new_layout,
                    summary={"maintenance": "migrate_layout_staged", "phase": "begin", "to": new_layout},
                    expect_parent=snap["snapshot_id"],
                )
            else:
                stale = sorted(
                    (f for f in snap["files"] if f.get("layout_stale")),
                    key=lambda f: (f["min_key"] is None, f["min_key"] or "", f["path"]),
                )
                if not stale or (max_stages is not None and len(stages) >= max_stages):
                    return {"begin": begin_sid, "stages": stages, "done": not stale, "stale_remaining": len(stale)}
                picked = stale[:max_files_per_stage]
                summary = {
                    "maintenance": "migrate_layout_staged",
                    "phase": "stage",
                    "files_in": len(picked),
                    "to": new_layout,
                }
                stages.append(_rewrite(table, snap, picked, summary))
        except TableCommitError:
            # a concurrent merge advanced HEAD between plan and commit —
            # replan against the new head (the merge may even have migrated
            # some of our picked files for us). The budget is PER COMMIT —
            # a long migration under steady foreground traffic sees one
            # conflict per stage and must not abort on their total — and
            # only consecutive conflicts on one commit exhaust it.
            retries_left -= 1
            if retries_left < 0:
                raise
            continue
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


def expire_tombstones(table: LakeTable, low_watermark_lsn: int) -> int | None:
    """Drop tombstone rows with ``_commit_lsn <= low_watermark_lsn``.

    Only files that actually contain such tombstones are rewritten (found
    by one narrow scan, the same touch-minimal strategy as MERGE) — PLUS,
    when any mor-flagged file exists, every file ``LakeTable.touched_files``
    says may hold an expired tombstone's key: the tombstone row in a mor
    file IS the mask over the key's older copies, so the copies must die in
    the same commit the mask does. Returns the new snapshot id, or None if
    no file qualifies.
    """
    snap = table.snapshot()
    files = snap["files"]
    if not files:
        return None
    flagged = table.load_key_versions(files).where(_expired(low_watermark_lsn))
    flagged = flagged.select(F.input_file_name().alias("_file"), "doc_id").persist()
    try:
        uris = {r["_file"] for r in flagged.select("_file").distinct().collect()}
        # input_file_name returns URIs; commit-log paths are plain
        touched = {f["path"] for f in files if f["path"] in uris or f"file://{f['path']}" in uris}
        if touched and any(f.get("mor") for f in files):
            closure, _ = table.touched_files(flagged, snap)
            touched |= {f["path"] for f in closure}
    finally:
        flagged.unpersist()
    if not touched:
        return None
    entries = [f for f in files if f["path"] in touched]
    summary = {"maintenance": "expire_tombstones", "low_watermark": low_watermark_lsn}
    return _rewrite(table, snap, entries, summary, expire_at_or_below=low_watermark_lsn)
