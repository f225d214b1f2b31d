"""Iceberg-semantics table layer built from scratch on Parquet + a JSON commit log.

Role in the engine: the MERGE target and exactly-once ledger. Upgrades the
reference's load stage — idempotent create-if-absent DDL
(``src/common/load/PostGISFeatureWriterService.scala:41-46``) and
commit-or-rollback transactional append (``:16-32,48-64``, at-least-once) —
to atomic snapshot commits with epoch fences (exactly-once), versioned schema
evolution, and per-file key-range stats for copy-on-write merge planning.

No Iceberg/Delta jar exists in this environment (checked
``/opt/spark-4.1.2-bin-hadoop3/jars``), so this layer reimplements the
needed subset with the same semantics; the API mirrors Iceberg's
(``createTable / updateSchema / newSnapshot / expireSnapshots``) so a real
``iceberg-spark-runtime`` catalog can replace it where available.

Layout::

    <root>/data/s<snapshot>/part-*.parquet      # immutable data files
    <root>/metadata/commit-<n>.json             # one record per snapshot
    <root>/metadata/HEAD                        # atomic pointer to latest n

Commit record: parent pointer, schema + schema_version, the stable
``field_ids`` and the ``layout`` descriptor, live file list with per-file
stats (rows, min/max doc_id, bucket set on bucket tables — observed by
``LakeTable.write_stage`` in the job that writes the files, or taken by
``write_stage_local`` from the rows it writes on the driver; every merge and
maintenance commit writes through one of the two), fence records added this commit
(``(checkpoint_epoch, partition_id)``), lineage records, summary counters.
These fields are mandatory, as are each file entry's ``schema_version``
(set by the writer) and ``added_at`` (stamped by ``commit``): readers index
them directly. ``commit`` also decides
``mor``-flag inheritance: when it removes entries, the added files carry
the flag iff ``keeps_mask`` says a masked copy may survive outside them.

Atomicity & concurrency: the commit-file CREATE is the CAS — temp-write +
fsync + ``os.link`` (create-exclusive), so exactly one writer claims each
snapshot id and the loser gets a retryable ``TableCommitError``; HEAD is a
plain pointer updated after (late writes are harmless — recovery rolls it
forward, never back). ``commit(expect_parent=...)`` adds the
optimistic-concurrency validation every mutating flow pins itself with:
merges replan+retry, maintenance rewrites refuse and re-run, schema
evolution refuses and re-reads. Proven across two OS processes through the
real filesystem (tests/test_cross_process_writers.py). On an object store
(no ``link``), swap ``_atomic_create_json`` for a catalog compare-and-swap
— documented seam, same API.

Merge-on-read (round 3): a MERGE may commit in ``mor`` mode — it adds ONE
batch-sized file of winning rows (upserts + tombstones) and rewrites
nothing. Because that file contains exactly the applied keys, its own
``doc_id`` column doubles as the equality-delete set (Iceberg MoR where the
delete file IS the data file's key column): a row in a file committed at
snapshot ``s`` is superseded iff its key appears in a ``mor``-flagged file
with ``added_at > s``. ``load_files`` applies this mask with one
column-pruned scan of the mor files' keys + a (broadcast when small) left
join; copy-on-write commits remove every file their keys touch, so
CoW-only tables skip the mask entirely. Compaction is the rewrite point
that re-materializes masked state and sheds the flag where possible.

Tombstone persistence: deleted keys are retained as hidden-flagged rows
(``_deleted = true``) carrying their ``(_commit_lsn, _op_seq)``, because a
stale out-of-order update can arrive in a *later* batch than the delete it
lost to (SURVEY.md §7.3 "cross-batch out-of-order"); without the tombstone
row the merge would resurrect the key. ``read()`` filters them; a
``compact()``/``expire_tombstones`` pass drops tombstones below the feed's
global low-watermark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from collections import OrderedDict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from etl_spark.schema import HIDDEN_LSN, HIDDEN_SEQ, can_widen, relax_nullability
from etl_spark.session import expr_cache_get

HIDDEN_DELETED = "_deleted"
KEY_VERSION_SCHEMA = f"doc_id string, {HIDDEN_LSN} long, {HIDDEN_SEQ} int, {HIDDEN_DELETED} boolean"
KEY_VERSION_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.string()), (HIDDEN_LSN, pa.int64()), (HIDDEN_SEQ, pa.int32()), (HIDDEN_DELETED, pa.bool_())]
)

# MoR mask side of the read join rides a FORCED broadcast up to this many
# keys. Sized by the JVM broadcast hash-relation footprint (~100-150 B/row
# of object + hashmap overhead, an order of magnitude over the ~12 B of raw
# key bytes), not the raw key size: 500k keys ≈ 50-75 MB per executor, a
# safe ceiling. Beyond it NO hint is forced — AQE picks broadcast vs
# shuffled hash from measured sizes. Compaction (table/maintenance.py) is
# what keeps the mor backlog bounded.
MASK_BROADCAST_MAX_ROWS = 500_000

# basename -> commit-order mapping stays a literal create_map up to this
# many file entries; above it the mapping broadcast-joins instead
# (see _with_file_seq)
MAX_LITERAL_SEQ_MAP = 2_048

# Read-side plan fragments (bounded, gateway-scoped LRUs): the rename
# projection per (written name -> current name) mapping and the versioned-
# schema projection per (schema, input columns). Shared by every handle —
# a streaming tail opens a fresh LakeTable per run — and rebuilt only when
# the schema or a file group's written layout changes.
_RENAME_COLS_CACHE: OrderedDict = OrderedDict()
_PROJECT_COLS_CACHE: OrderedDict = OrderedDict()


class TableCommitError(RuntimeError):
    pass


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _atomic_create_json(path: str, obj: dict) -> None:
    """Create-exclusive JSON write: the commit-file creation IS the CAS, so
    it must FAIL for the loser of a race. ``os.link`` (like O_EXCL) raises
    FileExistsError if the target exists — unlike ``os.rename``, which
    silently replaces and would let two writers both 'win' the same
    snapshot id, one overwriting the other's fences/lineage/files."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        raise TableCommitError(f"concurrent commit: {os.path.basename(path)} already exists") from e
    finally:
        os.unlink(tmp)


def _atomic_write_text(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


# The stage write observes per-file stats for up to this many output
# partitions (the conditional-aggregate width grows with the count); wider
# writes take the one distributed stats scan.
MAX_OBSERVED_STAT_FILES = 256

_PART_RE = re.compile(r"^part-(\d{5})-.*\.parquet$")

# Per-output-partition stat aggregates of the stage write, built once per
# (output partitions, bucket count) and reused by every write
_STAGE_STATS_CACHE: OrderedDict = OrderedDict()


def bucket_col(n_buckets: int) -> Column:
    """The bucket layout's hash: a row's bucket id under ``n_buckets``."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def validate_layout(layout: dict) -> None:
    """Reject a layout descriptor that names no known layout."""
    if layout.get("type") not in ("range", "bucket"):
        raise ValueError(f"unknown layout type {layout!r}")
    if layout["type"] == "bucket" and not (1 <= int(layout.get("n_buckets", 0))):
        raise ValueError("bucket layout needs n_buckets >= 1")


def layout_buckets(snap: dict) -> int:
    """The bucket count of a snapshot's layout; 0 for the range layout."""
    layout = snap["layout"]
    return int(layout["n_buckets"]) if layout.get("type") == "bucket" else 0


def current_buckets(f: dict) -> list[int] | None:
    """A file entry's bucket tags under the table's current layout, or None:
    range-layout entries carry none, and an entry tagged ``layout_stale``
    (written before a staged layout migration's begin commit) may carry tags
    under an older modulus, so they never prove anything."""
    if f.get("layout_stale"):
        return None
    return f.get("buckets") or None


def may_share_keys(a: dict, b: dict) -> bool:
    """Whether two file entries can hold copies of the same key. When both
    carry current bucket tags the bucket sets decide (a key's copies live
    only in files holding its bucket); otherwise the ``[min_key, max_key]``
    ranges do, and an entry with no stats can hold any key."""
    ba, bb = current_buckets(a), current_buckets(b)
    if ba and bb:
        return not set(ba).isdisjoint(bb)
    if a["min_key"] is None or b["min_key"] is None:
        return True
    return a["max_key"] >= b["min_key"] and a["min_key"] <= b["max_key"]


def keeps_mask(rewritten: list[dict], files: list[dict]) -> bool:
    """Whether the output of a rewrite that removes the ``rewritten``
    entries from the live ``files`` must carry the ``mor`` flag: true iff a
    removed ``mor`` entry may share a key with a live entry outside the
    rewrite. The output holds the current state of every key it holds (it
    is read through the masked loader), so flagging it keeps masking any
    older copy left outside; when no outside entry may hold such a copy,
    the mask dies with the removed entries."""
    paths = {f["path"] for f in rewritten}
    outside = [f for f in files if f["path"] not in paths]
    return any(may_share_keys(m, f) for m in rewritten if m.get("mor") for f in outside)


def _stage_stats(n_out: int, n_buckets: int) -> tuple:
    """The stage write's per-row partition column ``_pid`` and the bucket
    column (bucket tables only), plus ONE struct aggregate ``f`` over them
    (None for ``n_out`` 0): per output partition i, the row count, min/max
    doc_id and, on bucket tables, the set of bucket ids. The aggregates
    read the projected ``_pid`` column, not ``spark_partition_id()``
    itself: an observed ``collect_set`` over the raw expression fails at
    run time (the nondeterministic expression is never initialized), and
    only deterministic inputs let one struct carry every aggregate across
    py4j as a single handle."""

    def _build():
        pid, doc_id = F.col("_pid"), F.col("doc_id")
        exprs = []
        for i in range(n_out):
            hit = pid == i
            exprs += [
                F.sum(F.when(hit, 1).otherwise(0)).alias(f"fcnt_{i}"),
                F.min(F.when(hit, doc_id)).alias(f"fmin_{i}"),
                F.max(F.when(hit, doc_id)).alias(f"fmax_{i}"),
            ]
            if n_buckets:
                exprs.append(F.collect_set(F.when(hit, F.col("_bucket"))).alias(f"fbkt_{i}"))
        bucket = bucket_col(n_buckets) if n_buckets else None
        return F.spark_partition_id().alias("_pid"), bucket, F.struct(*exprs).alias("f") if exprs else None

    return expr_cache_get(_STAGE_STATS_CACHE, (n_out, n_buckets), _build)


def _files_from_stats(
    stats: dict | None, stage: str, n_out: int, schema_version: int, bucketed: bool
) -> list[dict] | None:
    """Manifest entries from the stage write's own per-partition stats:
    output partition i is file part-{i:05d}, so no written file is read
    back. Returns None when the files do not reconcile with the stats (the
    caller then scans them)."""
    if stats is None:
        return None
    by_index: dict[int, str] = {}
    for fn in os.listdir(stage):
        mm = _PART_RE.match(fn)
        if mm:
            idx = int(mm.group(1))
            if idx in by_index:
                # a write task emitted >1 file for one partition (e.g. the
                # session sets spark.sql.files.maxRecordsPerFile ->
                # part-00000-...-c000 AND -c001): the index->file bijection
                # the stats rely on is broken
                return None
            by_index[idx] = fn
    add_files = []
    for i in range(n_out):
        if not stats[f"fcnt_{i}"]:
            continue
        fn = by_index.pop(i, None)
        if fn is None:
            return None  # rows observed but no file
        entry = {
            "path": os.path.abspath(os.path.join(stage, fn)),
            "rows": stats[f"fcnt_{i}"],
            "min_key": stats[f"fmin_{i}"],
            "max_key": stats[f"fmax_{i}"],
            "schema_version": schema_version,
        }
        if bucketed:
            entry["buckets"] = sorted(stats[f"fbkt_{i}"])
        add_files.append(entry)
    for fn in by_index.values():
        # a partition the stats saw empty: Spark writes no file for it,
        # except the one schema-only file of an all-empty write, which is
        # removed as untracked — but NEVER a file holding rows the stats
        # missed (that would silently commit data away)
        full = os.path.join(stage, fn)
        if pq.read_metadata(full).num_rows != 0:
            return None
        os.remove(full)
    return add_files


def _collect_file_stats(spark: SparkSession, stage: str, schema_version: int, n_buckets: int) -> list[dict]:
    """Manifest entries for every file in ``stage`` from ONE distributed
    column-pruned scan grouped by ``input_file_name`` — the fallback of
    ``LakeTable.write_stage`` when the written files do not reconcile with
    its stats, and never a driver-side footer loop. Zero-row files are
    removed as untracked."""
    if not any(fn.endswith(".parquet") for fn in os.listdir(stage)):
        return []  # nothing written: no schema to scan
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
    ]
    if n_buckets:
        aggs.append(F.sort_array(F.collect_set(bucket_col(n_buckets))).alias("buckets"))
    rows = spark.read.parquet(stage).groupBy(F.input_file_name().alias("uri")).agg(*aggs).collect()
    add_files = []
    for r in rows:
        entry = {
            "path": urllib.parse.unquote(urllib.parse.urlparse(r["uri"]).path),
            "rows": r["rows"],
            "min_key": r["min_key"],
            "max_key": r["max_key"],
            "schema_version": schema_version,
        }
        if n_buckets:
            entry["buckets"] = list(r["buckets"])
        add_files.append(entry)
    add_files.sort(key=lambda d: d["path"])
    tracked = {f["path"] for f in add_files}
    for fn in os.listdir(stage):
        full = os.path.abspath(os.path.join(stage, fn))
        if fn.endswith(".parquet") and full not in tracked:
            os.remove(full)
    return add_files


def _dictionary_columns(schema: pa.Schema) -> list[str]:
    """The leaf column paths of ``schema`` that ``write_stage_local``
    dictionary-encodes: all but ``doc_id`` and ``_commit_lsn``. A key is
    unique within a file and a commit lsn nearly so, so a dictionary of
    them only adds its page: the Spark writer (parquet-mr) drops such a
    dictionary after the first page, while pyarrow keeps it up to 1 MB."""

    def leaves(path: str, t: pa.DataType) -> list[str]:
        if pa.types.is_list(t):
            return leaves(f"{path}.list.{t.value_field.name}", t.value_type)
        if pa.types.is_struct(t):
            return [p for f in t for p in leaves(f"{path}.{f.name}", f.type)]
        if pa.types.is_map(t):
            return leaves(f"{path}.key_value.key", t.key_type) + leaves(f"{path}.key_value.value", t.item_type)
        return [path]

    return [p for f in schema if f.name not in ("doc_id", HIDDEN_LSN) for p in leaves(f.name, f.type)]


def _file_seq(files: pa.ChunkedArray, entries: list[dict]) -> pa.ChunkedArray:
    """Each row's file commit order: the ``added_at`` of the entry whose
    path is the row's ``__filename`` (``_with_file_seq`` on the driver)."""
    paths = pa.array([f["path"] for f in entries])
    seq = pc.take(pa.array([f["added_at"] for f in entries]), pc.index_in(files, paths))
    if seq.null_count:
        raise ValueError("a scanned file matches no manifest entry path")
    return seq


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # canonical absolute root: file paths in commit records must compare
        # equal regardless of the caller's cwd (stats collection derives
        # paths from Spark file URIs, which are always absolute)
        self.root = os.path.abspath(root)
        self.meta_dir = os.path.join(self.root, "metadata")
        self.data_dir = os.path.join(self.root, "data")
        # committed snapshot records are immutable, so parsed JSON is cached
        # per sid for the lifetime of the handle — without this, every
        # fences()/lineage() call re-parses EVERY commit file, an O(epochs^2)
        # driver-side serial fraction across a long replay (round-1 scaling
        # post-mortem)
        self._snap_cache: dict[int, dict] = {}
        # incremental fence ledger (see fences())
        self._fences_cache: set[tuple[int, int]] = set()
        self._fenced_epochs_cache: set[int] = set()
        self._fences_upto: int = -1
        # schema_version -> first snapshot id carrying it
        # (see _snapshot_at_version)
        self._version_snap_cache: dict[int, int] = {}
        # schema_version -> physical StructType (immutable per version),
        # rebuilt per load_files call otherwise
        self._phys_schema_cache: dict[int, StructType | None] = {}

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create_if_absent(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        layout: dict | None = None,
    ) -> "LakeTable":
        """Idempotent create (reference K2: existence check before DDL,
        ``PostGISFeatureWriterService.scala:44``).

        ``layout`` fixes the table's physical file layout at creation
        (immutable — every writer must agree on it):
        - None / ``{"type": "range"}``: range-partitioned files on doc_id
          (the default; tight per-file key ranges, range reads prune).
        - ``{"type": "bucket", "n_buckets": B}``: hash-bucketed files on
          ``pmod(xxhash64(doc_id), B)``. Planning prunes by EXACT bucket
          membership, the apply write is a plain hash exchange (no
          boundary-sampler pass, so nothing is evaluated twice), and
          MoR compaction closes over buckets instead of key ranges
          (bucket-local rewrites). Trade-off: range reads can no longer
          prune files by key interval."""
        t = cls(spark, root)
        if t.exists():
            return t
        if layout is not None:
            validate_layout(layout)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        commit = {
            "snapshot_id": 0,
            "parent_id": None,
            "schema_version": 0,
            "schema": json.loads(schema.json()),
            # stable field ids (the Iceberg column-identity mechanism):
            # renames change a field's NAME, never its id, so files written
            # under the old name remain readable by id
            "field_ids": {f.name: i for i, f in enumerate(schema.fields)},
            "layout": layout or {"type": "range"},
            "files": [],
            "fences": [],
            "lineage": [],
            "summary": {"rows_upserted": 0, "rows_deleted": 0},
        }
        _atomic_write_json(os.path.join(t.meta_dir, "commit-0000000000.json"), commit)
        _atomic_write_text(os.path.join(t.meta_dir, "HEAD"), "0")
        return t

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, "HEAD"))

    # ------------------------------------------------------------- metadata

    def head_id(self) -> int:
        with open(os.path.join(self.meta_dir, "HEAD")) as f:
            return int(f.read().strip())

    def _commit_path(self, sid: int) -> str:
        return os.path.join(self.meta_dir, f"commit-{sid:010d}.json")

    def snapshot(self, sid: int | None = None) -> dict:
        sid = self.head_id() if sid is None else sid
        cached = self._snap_cache.get(sid)
        if cached is not None:
            return cached
        with open(self._commit_path(sid)) as f:
            snap = json.load(f)
        self._snap_cache[sid] = snap
        return snap

    def snapshots(self) -> list[dict]:
        return [self.snapshot(s) for s in range(self.head_id() + 1)]

    def field_ids(self, sid: int | None = None) -> dict[str, int]:
        """name -> stable field id at a snapshot."""
        return self.snapshot(sid)["field_ids"]

    def _snapshot_at_version(self, version: int) -> dict | None:
        """Earliest snapshot whose live schema carries a given
        schema_version. Cached per handle (a version's first snapshot is
        immutable): every load_files resolves its groups' schemas through
        here, so an uncached walk would be O(snapshots) per epoch —
        O(epochs^2) over a long replay."""
        sid = self._version_snap_cache.get(version)
        if sid is not None:
            return self.snapshot(sid)
        for s in self.snapshots():
            if s["schema_version"] == version:
                self._version_snap_cache[version] = s["snapshot_id"]
                return s
        return None

    def _names_at_version(self, version: int) -> dict[int, str] | None:
        """field id -> name under a given schema_version (what a file written
        under that version calls its columns)."""
        s = self._snapshot_at_version(version)
        if s is None:
            return None
        return {fid: name for name, fid in self.field_ids(s["snapshot_id"]).items()}

    def _physical_schema_at(self, version: int) -> StructType | None:
        """The uniform on-disk schema of data files written under a
        schema_version: that version's table schema (relaxed — writers cast
        through relax_nullability) plus the hidden LWW columns. Letting the
        reader use this EXPLICIT schema instead of ``mergeSchema`` matters:
        mergeSchema launches a footer-scan job at plan-CONSTRUCTION time on
        every load_files call — a per-epoch driver barrier that also grows
        with file count."""
        if version in self._phys_schema_cache:
            return self._phys_schema_cache[version]
        from pyspark.sql.types import StructField

        s = self._snapshot_at_version(version)
        if s is None:
            self._phys_schema_cache[version] = None
            return None
        fields = [
            StructField(f.name, relax_nullability(f.dataType), nullable=True)
            for f in StructType.fromJson(s["schema"]).fields
        ]
        from pyspark.sql.types import BooleanType, IntegerType, LongType

        fields += [
            StructField(HIDDEN_LSN, LongType(), nullable=True),
            StructField(HIDDEN_SEQ, IntegerType(), nullable=True),
            StructField(HIDDEN_DELETED, BooleanType(), nullable=True),
        ]
        out = StructType(fields)
        self._phys_schema_cache[version] = out
        return out

    def schema(self, sid: int | None = None) -> StructType:
        return StructType.fromJson(self.snapshot(sid)["schema"])

    def files(self, sid: int | None = None) -> list[dict]:
        return self.snapshot(sid)["files"]

    def layout(self, sid: int | None = None) -> dict:
        """Physical layout descriptor."""
        return self.snapshot(sid)["layout"]

    def stats(self, sid: int | None = None) -> dict:
        """Operator-facing snapshot stats from metadata only (no data scan):
        file/row counts are PHYSICAL (they include MoR-superseded copies and
        tombstone rows — the gap between ``rows`` and ``read().count()`` is
        exactly the compaction debt), ``mor_files``/``mor_mask_rows`` size
        the read-side mask, and ``fenced_epochs`` counts applied epochs."""
        snap = self.snapshot(sid)
        files = snap["files"]
        mor = [f for f in files if f.get("mor")]
        return {
            "snapshot_id": snap["snapshot_id"],
            "schema_version": snap["schema_version"],
            "n_files": len(files),
            "rows": sum(f["rows"] for f in files),
            "mor_files": len(mor),
            "mor_mask_rows": sum(f["rows"] for f in mor),
            "fenced_epochs": len(self.fenced_epochs()),
        }

    # --------------------------------------------------------------- fences

    def fences(self) -> set[tuple[int, int]]:
        """Fence ledger as a set, maintained INCREMENTALLY per handle:
        committed snapshots are immutable, so only snapshots newer than the
        last scan are folded in. Without this, the per-epoch ``is_fenced``
        check re-walks every commit — an O(epochs^2) driver serial fraction
        over a long replay (the same class of cost as the round-2 snapshot
        JSON cache). Returns the live cached set; callers only test
        membership."""
        head = self.head_id()
        for s in range(self._fences_upto + 1, head + 1):
            for f in self.snapshot(s)["fences"]:
                self._fences_cache.add((f["checkpoint_epoch"], f["partition_id"]))
                self._fenced_epochs_cache.add(f["checkpoint_epoch"])
        self._fences_upto = max(self._fences_upto, head)
        return self._fences_cache

    def fenced_epochs(self) -> set[int]:
        self.fences()  # extend the incremental caches
        return self._fenced_epochs_cache

    def is_fenced(self, epoch: int) -> bool:
        return epoch in self.fenced_epochs()

    def lineage(self) -> list[dict]:
        out = []
        for s in self.snapshots():
            out.extend(s["lineage"])
        return out

    # ---------------------------------------------------------------- reads

    def _project(self, df: DataFrame, schema: StructType, columns: list[str]) -> DataFrame:
        """Pin a raw file read (whose columns are ``columns``) to the
        versioned schema + hidden columns: missing (later-added) columns ->
        null, narrower written types cast up (widen reconciliation)."""

        def _build():
            proj = []
            for f in schema.fields:
                if f.name in columns:
                    proj.append(F.col(f.name).cast(relax_nullability(f.dataType)).alias(f.name))
                else:
                    proj.append(F.lit(None).cast(relax_nullability(f.dataType)).alias(f.name))
            for h, t in ((HIDDEN_LSN, "long"), (HIDDEN_SEQ, "int"), (HIDDEN_DELETED, "boolean")):
                proj.append((F.col(h) if h in columns else F.lit(None)).cast(t).alias(h))
            return proj

        return df.select(
            expr_cache_get(_PROJECT_COLS_CACHE, (schema.json(), tuple(columns)), _build)
        )

    def load_files(
        self,
        file_entries: list[dict],
        snap: dict,
        key_range: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Read a set of file entries reconciled to ``snap``'s schema,
        including hidden columns and tombstone rows (callers filter).

        Rename-aware (the Iceberg field-ID read): files are grouped by the
        ``schema_version`` they were written under; each group's write-time
        column names are mapped to the snapshot's names through the stable
        field ids, then all groups are projected to the versioned schema and
        unioned. With no renames in the history every group's mapping is the
        identity. An entry whose version no snapshot carries (a corrupt
        manifest) raises ValueError.

        ``key_range=(lo, hi)`` is a caller CONTRACT: the caller promises to
        discard every returned row with doc_id outside [lo, hi] (read_range's
        residual predicate). Under that promise the MoR mask is pruned to
        winners files overlapping the range — unmasked out-of-range rows
        can never surface."""
        schema = StructType.fromJson(snap["schema"])
        if not file_entries:
            df = self.spark.createDataFrame([], StructType(list(schema.fields)))
            df = df.withColumn(HIDDEN_LSN, F.lit(None).cast("long"))
            df = df.withColumn(HIDDEN_SEQ, F.lit(None).cast("int"))
            df = df.withColumn(HIDDEN_DELETED, F.lit(None).cast("boolean"))
            return self._project(df, schema, df.columns)
        target_names = {fid: name for name, fid in self.field_ids(snap["snapshot_id"]).items()}
        groups: dict[int, list[str]] = {}
        for f in file_entries:
            groups.setdefault(f["schema_version"], []).append(f["path"])
        parts = []
        for sv in sorted(groups):
            phys = self._physical_schema_at(sv)
            if phys is None:  # writers tag existing versions: a corrupt manifest
                raise ValueError(f"manifest entry {groups[sv][0]} has schema_version {sv}, which no snapshot carries")
            # explicit schema: no inference/mergeSchema footer job, and the
            # columns are known without asking the JVM
            raw = self.spark.read.schema(phys).parquet(*sorted(groups[sv]))
            columns = phys.fieldNames()
            writer_names = self._names_at_version(sv)
            if writer_names:
                # ONE simultaneous select, not sequential withColumnRenamed:
                # a rename chain may reuse a name another field held at
                # write time (value->source after source->origin), and
                # in-place renames would collide/duplicate mid-sequence.
                # Skipped when every written name is already current.
                name_to_fid = {n: fid for fid, n in writer_names.items()}
                renames = tuple(
                    (cname, target_names.get(name_to_fid[cname], cname) if cname in name_to_fid else cname)
                    for cname in columns
                )
                if any(cname != tgt for cname, tgt in renames):
                    raw = raw.select(
                        expr_cache_get(
                            _RENAME_COLS_CACHE,
                            renames,
                            lambda: [F.col(f"`{cname}`").alias(tgt) for cname, tgt in renames],
                        )
                    )
                    columns = [tgt for _, tgt in renames]
            parts.append(self._project(raw, schema, columns))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._apply_mor_masks(out, file_entries, snap, key_range)

    def read_files_local(self, file_entries: list[dict], snap: dict) -> pa.Table:
        """``load_files`` on the driver: the rows of ``file_entries`` in
        ``snap``'s physical schema (hidden columns and tombstone rows
        included), read with pyarrow. Each ``schema_version`` group is read
        with its ``_physical_schema_at`` schema, its written names mapped to
        ``snap``'s through the field ids, and projected as ``_project`` does
        (a column a file lacks reads null, narrower types cast up). A row is
        dropped when a ``mor`` file of the FULL snapshot with a later
        ``added_at`` holds its key, as in ``_apply_mor_masks``: a per-key max
        over ``file_entries`` alone would miss the newer copies a CoW or
        small-file subset does not hold."""
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._physical_schema_at(snap["schema_version"]))
        target_names = {fid: name for name, fid in snap["field_ids"].items()}
        mask = self._mor_mask_local(file_entries, snap)
        groups: dict[int, list[dict]] = {}
        for f in file_entries:
            groups.setdefault(f["schema_version"], []).append(f)
        parts = [target.empty_table()]
        for sv in sorted(groups):
            phys = self._physical_schema_at(sv)
            if phys is None:  # writers tag existing versions: a corrupt manifest
                path = groups[sv][0]["path"]
                raise ValueError(f"manifest entry {path} has schema_version {sv}, which no snapshot carries")
            paths = sorted(f["path"] for f in groups[sv])
            raw = pads.dataset(paths, schema=to_arrow_schema(phys), format="parquet").to_table(
                columns=[*phys.fieldNames(), "__filename"]
            )
            name_to_fid = {n: fid for fid, n in self._names_at_version(sv).items()}
            written = {target_names.get(name_to_fid.get(c), c): raw.column(c) for c in phys.fieldNames()}
            tbl = pa.Table.from_arrays(
                [written[f.name].cast(f.type) if f.name in written else pa.nulls(raw.num_rows, f.type) for f in target],
                schema=target,
            )
            if mask is not None:
                fseq = _file_seq(raw.column("__filename"), groups[sv])
                mseq = pc.take(mask.column("_mseq"), pc.index_in(tbl.column("doc_id"), mask.column("doc_id")))
                tbl = tbl.filter(pc.or_kleene(pc.is_null(mseq), pc.greater_equal(fseq, mseq)))
            parts.append(tbl)
        return pa.concat_tables(parts)

    def _mor_mask_local(self, file_entries: list[dict], snap: dict) -> pa.Table | None:
        """``(doc_id, _mseq)``: the newest ``added_at`` of each key held by a
        ``mor`` file of ``snap`` within the loaded entries' key envelope
        (``_apply_mor_masks``' envelope pruning), or None when no such file
        exists."""
        mor = [f for f in snap["files"] if f.get("mor")]
        cond = None
        if file_entries and all(f["min_key"] is not None for f in file_entries):
            lo = min(f["min_key"] for f in file_entries)
            hi = max(f["max_key"] for f in file_entries)
            mor = [f for f in mor if f["min_key"] is None or (f["max_key"] >= lo and f["min_key"] <= hi)]
            cond = (pads.field("doc_id") >= lo) & (pads.field("doc_id") <= hi)
        if not mor:
            return None
        keys = pads.dataset(
            sorted(f["path"] for f in mor), schema=pa.schema([("doc_id", pa.string())]), format="parquet"
        ).to_table(columns=["doc_id", "__filename"], filter=cond)
        mask = (
            pa.table({"doc_id": keys.column("doc_id"), "_mseq": _file_seq(keys.column("__filename"), mor)})
            .group_by("doc_id")
            .aggregate([("_mseq", "max")])
        )
        return pa.table({"doc_id": mask.column("doc_id").combine_chunks(), "_mseq": mask.column("_mseq_max")})

    def load_key_versions(self, file_entries: list[dict]) -> DataFrame:
        """``(doc_id, _commit_lsn, _op_seq, _deleted)`` of every physical
        row in the given files, UNMASKED: a key may appear once per stored
        version, for callers that reduce by version themselves (the
        merge-on-read resolve takes the per-key max ``(_commit_lsn,
        _op_seq)``, which is the current state by the LWW invariant — a
        change only ever lands by beating the stored version, so version
        order and commit order agree per key). The key
        and the hidden LWW columns are never renamed or retyped — writers
        pin their physical types — so one explicit-schema scan reads files
        of every schema version alike (a column a file lacks reads null):
        no per-version reconciliation or projection, and only these four
        columns leave the scan."""
        return self.spark.read.schema(KEY_VERSION_SCHEMA).parquet(
            *sorted(f["path"] for f in file_entries)
        )

    def read_key_versions_local(self, file_entries: list[dict], keys) -> pa.Table:
        """``load_key_versions`` on the driver, restricted to ``keys``: the
        same four columns of every physical row of the given files whose
        doc_id is in ``keys``, read with pyarrow (a column a file lacks
        reads null)."""
        dataset = pads.dataset(
            sorted(f["path"] for f in file_entries), schema=KEY_VERSION_ARROW_SCHEMA, format="parquet"
        )
        return dataset.to_table(filter=pads.field("doc_id").isin(keys))

    def touched_files(self, keys: DataFrame, snap: dict) -> tuple[list[dict], int]:
        """The entries of ``snap`` that may hold a ``doc_id`` of ``keys``,
        and the row count of ``keys``, in one action: the keys join the
        joinable entries' stats — key ranges, or exact (path, bucket) pairs
        of the entries with current tags on a bucket table — broadcast.
        Every other entry is touched: one without stats always, and on a
        bucket table a mid-migration stale one too — a large set of
        hash-scattered keys intersects a wide-range file with near
        certainty, so a range join would almost never prune one, and
        touching it lets a CoW merge progress the migration. The row count
        rides the join as an Observation, so it costs no extra action;
        ``keys`` must not be empty, or AQE may fold the join away with it."""
        files, n_buckets = snap["files"], layout_buckets(snap)
        joinable = [f for f in files if (current_buckets(f) if n_buckets else f["min_key"] is not None)]
        if n_buckets:
            key, hit = bucket_col(n_buckets).alias("_bkt"), F.col("_bkt") == F.col("bucket")
            stats = self.spark.createDataFrame(
                [(f["path"], b) for f in joinable for b in f["buckets"]], "path string, bucket int"
            )
        else:
            key = doc_id = F.col("doc_id")
            hit = (doc_id >= F.col("min_key")) & (doc_id <= F.col("max_key"))
            stats = self.spark.createDataFrame(
                [(f["path"], f["min_key"], f["max_key"]) for f in joinable],
                "path string, min_key string, max_key string",
            )
        obs = Observation()
        # LEFT outer, not inner: when no key hits a file (all-new keys, or
        # no joinable entry at all) an inner join's output is empty and AQE
        # re-plans the query as an empty relation, dropping the
        # CollectMetrics accumulators. The null-path rows keep the output
        # as large as ``keys``, so the metrics survive.
        hits = (
            keys.observe(obs, F.count(F.lit(1)).alias("n"))
            .select(key)
            .join(F.broadcast(stats), hit, "left_outer")
            .select("path")
            .distinct()
            .collect()
        )
        paths = {r["path"] for r in hits} | ({f["path"] for f in files} - {f["path"] for f in joinable})
        return [f for f in files if f["path"] in paths], obs.get["n"]

    def _with_file_seq(self, df: DataFrame, entries: list[dict], col: str) -> DataFrame:
        """Tag each row with its file's commit order: basename(input_file) ->
        added_at. Below MAX_LITERAL_SEQ_MAP entries the mapping is a literal
        ``create_map`` (zero plan nodes beyond a projection); above it — a
        table with 10^5+ live files would bloat every plan with a megabyte
        literal — the mapping becomes a broadcast-joined two-column frame."""
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
        if len(entries) <= MAX_LITERAL_SEQ_MAP:
            pairs: list = []
            for f in entries:
                pairs += [F.lit(os.path.basename(f["path"])), F.lit(f["added_at"])]
            return df.withColumn(col, F.element_at(F.create_map(*pairs), fname))
        mapping = self.spark.createDataFrame(
            [(os.path.basename(f["path"]), f["added_at"]) for f in entries],
            "_bn string, _sq int",
        )
        return (
            df.withColumn("_bn0", fname)
            .join(F.broadcast(mapping), F.col("_bn0") == F.col("_bn"), "left")
            .withColumn(col, F.col("_sq"))
            .drop("_bn0", "_bn", "_sq")
        )

    def _apply_mor_masks(
        self,
        out: DataFrame,
        file_entries: list[dict],
        snap: dict,
        key_range: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Drop rows superseded by a newer mor-flagged file's keys (module
        docstring "Merge-on-read"). The mask is ONE column-pruned scan of
        the mor files' doc_id columns (max added_at per key), broadcast when
        small; rows keep iff their file's commit order >= the key's newest
        mor commit. Mask keys always come from the FULL snapshot, not the
        loaded subset — a caller loading a non-range-closed subset (e.g.
        compaction's small-file set) must still see newer versions that live
        in files outside it. No-op (zero extra plan nodes) on CoW-only
        snapshots, since copy-on-write removes every file its keys touch."""
        mor = [f for f in snap["files"] if f.get("mor")]
        if not mor:
            return out
        # bucket layout: a loaded row's superseding winner can only live in
        # a file sharing one of the loaded buckets — exact set pruning. A
        # loaded file without current tags (current_buckets) disables bucket
        # pruning entirely, and a winners file without them is never pruned
        # by bucket
        loaded_buckets: set[int] = set()
        if all(current_buckets(f) for f in file_entries):
            for f in file_entries:
                loaded_buckets.update(f["buckets"])
        if loaded_buckets:
            mor = [
                f
                for f in mor
                if not current_buckets(f) or not loaded_buckets.isdisjoint(f["buckets"])
            ]
            if not mor:
                return out
        # prune the mask to the loaded subset's key envelope: every loaded
        # row's key lies within [lo, hi] (file stats), so mask keys outside
        # it cannot match — a point/range read masks against O(overlapping)
        # winners files, not all of them. Skipped when any loaded file
        # lacks stats (envelope unknown).
        lo = hi = None
        if file_entries and all(f["min_key"] is not None for f in file_entries):
            lo = min(f["min_key"] for f in file_entries)
            hi = max(f["max_key"] for f in file_entries)
        # a caller-supplied residual key range (read_range's probe) tightens
        # the envelope further: data files are range-wide (a point probe
        # loads a file spanning ~keyspace/n_files keys), so pruning winners
        # by the PROBE keeps the mask O(probe-overlapping winners), not
        # O(file-envelope-overlapping) — the 100-epoch-backlog bound
        # (tests/test_merge_on_read.py)
        if key_range is not None:
            klo, khi = key_range
            if klo is not None and (lo is None or klo > lo):
                lo = klo
            if khi is not None and (hi is None or khi < hi):
                hi = khi
        if lo is not None and hi is not None:
            mor = [
                f
                for f in mor
                if f["min_key"] is None or (f["max_key"] >= lo and f["min_key"] <= hi)
            ]
            if not mor:
                return out
        out = self._with_file_seq(out, file_entries, "_fseq")
        mask_rows = self.spark.read.schema("doc_id string").parquet(
            *sorted(f["path"] for f in mor)
        )
        # residual predicate pushed into the winners-file scan
        if lo is not None:
            mask_rows = mask_rows.where(F.col("doc_id") >= lo)
        if hi is not None:
            mask_rows = mask_rows.where(F.col("doc_id") <= hi)
        mask = (
            self._with_file_seq(mask_rows.select(F.col("doc_id").alias("_mkey")), mor, "_mseq")
            .groupBy("_mkey")
            .agg(F.max("_mseq").alias("_mseq"))
        )
        if sum(f["rows"] for f in mor) <= MASK_BROADCAST_MAX_ROWS:
            mask = F.broadcast(mask)
        return (
            out.join(mask, out["doc_id"] == mask["_mkey"], "left")
            .where(F.col("_mseq").isNull() | (F.col("_fseq") >= F.col("_mseq")))
            .drop("_fseq", "_mkey", "_mseq")
        )

    def read(
        self,
        sid: int | None = None,
        include_hidden: bool = False,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Read the table state at a snapshot, reconciled to that snapshot's
        schema (older files may lack added columns / carry narrower types /
        pre-rename names — reconciled by the field-ID loader)."""
        snap = self.snapshot(sid)
        df = self.load_files(snap["files"], snap)
        if not include_deleted:
            df = df.where(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
        if not include_hidden:
            df = df.drop(HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED)
        return df

    def read_range(
        self,
        lo: str | None = None,
        hi: str | None = None,
        sid: int | None = None,
        include_hidden: bool = False,
    ) -> DataFrame:
        """Key-range read: scan ONLY files whose [min_key, max_key] span
        intersects [lo, hi] (manifest pruning — the serving-path analog of
        the merge planner), then apply the residual predicate. Because the
        apply write is range-partitioned, a point or range lookup touches
        O(range/keyspace) of the files, not all of them."""
        snap = self.snapshot(sid)
        keep = []
        for f in snap["files"]:
            if f["min_key"] is None:
                keep.append(f)  # no stats -> cannot prune
                continue
            if (hi is not None and f["min_key"] > hi) or (lo is not None and f["max_key"] < lo):
                continue
            keep.append(f)
        if not keep:
            return self.read(sid=sid, include_hidden=include_hidden).where(F.lit(False))
        out = self.load_files(keep, snap, key_range=(lo, hi)).where(
            ~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False))
        )
        if lo is not None:
            out = out.where(F.col("doc_id") >= lo)
        if hi is not None:
            out = out.where(F.col("doc_id") <= hi)
        if not include_hidden:
            out = out.drop(HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED)
        return out

    def diff(self, sid_a: int, sid_b: int) -> DataFrame:
        """Incremental changelog between two snapshots (CDC-out, the Iceberg
        incremental-read analog): one row per key whose state changed, with
        ``change_op`` 'U' (insert or update — the new row) or 'D' (the key
        went dead). Computed as a keyed diff on the persisted LWW version
        columns, so copy-on-write file rewrites of UNchanged rows do not
        appear."""
        a = self.read(sid=sid_a, include_hidden=True, include_deleted=True).select(
            "doc_id",
            F.col(HIDDEN_LSN).alias("_lsn_a"),
            F.col(HIDDEN_SEQ).alias("_seq_a"),
            F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)).alias("_del_a"),
        )
        b = self.read(sid=sid_b, include_hidden=True, include_deleted=True)
        bj = b.alias("b").join(a.alias("a"), on="doc_id", how="full_outer")
        changed = (
            F.col("a._lsn_a").isNull()
            | F.col(f"b.{HIDDEN_LSN}").isNull()
            | (F.col(f"b.{HIDDEN_LSN}") != F.col("a._lsn_a"))
            | (F.col(f"b.{HIDDEN_SEQ}") != F.col("a._seq_a"))
            | (F.coalesce(F.col(f"b.{HIDDEN_DELETED}"), F.lit(False)) != F.col("a._del_a"))
        )
        # live in B = present and not tombstoned; a key absent from B (or
        # tombstoned) reports as 'D'
        live_b = F.col(f"b.{HIDDEN_LSN}").isNotNull() & ~F.coalesce(
            F.col(f"b.{HIDDEN_DELETED}"), F.lit(False)
        )
        # dead->gone is NOT a state change: a key tombstoned in A whose
        # tombstone row was physically expired before B (expire_tombstones)
        # must not re-report 'D' — CDC consumers would see duplicate deletes.
        # A key RE-deleted by a new event still reports (its B tombstone row
        # exists, so b lsn is non-null).
        expired = F.coalesce(F.col("a._del_a"), F.lit(False)) & F.col(f"b.{HIDDEN_LSN}").isNull()
        payload = [c for c in b.columns if not c.startswith("_") and c != "doc_id"]
        return bj.where(changed & ~expired).select(
            F.col("doc_id"),
            F.when(live_b, F.lit("U")).otherwise(F.lit("D")).alias("change_op"),
            *[F.when(live_b, F.col(f"b.{c}")).otherwise(F.lit(None)).alias(c) for c in payload],
            F.col(f"b.{HIDDEN_LSN}").alias(HIDDEN_LSN),
            F.col(f"b.{HIDDEN_SEQ}").alias(HIDDEN_SEQ),
        )

    # -------------------------------------------------------------- commits

    def stage_dir(self, sid: int) -> str:
        return os.path.join(self.data_dir, f"s{sid:010d}-{uuid.uuid4().hex[:8]}")

    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        n_out: int,
        snap: dict,
        row_cols: tuple = (),
        metrics: tuple = (),
        drop: tuple = (),
        phases: dict | None = None,
    ) -> tuple[list[dict], dict]:
        """Write ``df`` into ``stage`` as at most ``n_out`` doc_id-sorted
        files in ``snap``'s layout and return their manifest entries (rows,
        min/max doc_id, the bucket set on bucket tables, schema_version)
        plus the observed metrics.

        Range tables range-partition on doc_id; bucket tables hash-exchange
        on the bucket id, so every bucket lands wholly inside one file while
        the file count follows the data. The entries ride the write job
        itself (Iceberg-style, the written data is never rescanned): a
        ``_pid`` column projected above the exchange keys per-partition
        aggregates observed beside the caller's ``metrics`` (aggregates over
        the per-row ``row_cols`` projected with it; ``drop`` names the
        columns observed but not written). Only files that do not reconcile
        with the stats — more than ``MAX_OBSERVED_STAT_FILES`` partitions,
        ``maxRecordsPerFile`` splits, or no metrics at all because AQE
        folded an empty output away — take one distributed stats scan.
        ``phases`` receives the write and stats seconds."""
        n_buckets = layout_buckets(snap)
        pid, bucket, stats = _stage_stats(n_out if n_out <= MAX_OBSERVED_STAT_FILES else 0, n_buckets)
        if n_buckets:
            out = df.withColumn("_bucket", bucket).repartition(n_out, "_bucket")
        else:
            out = df.repartitionByRange(n_out, "doc_id")
        # observe sits ABOVE the exchange: a range exchange's boundary-
        # sampling job executes only the exchange's child, so the metrics
        # are evaluated exactly once — in the write job (below it, both
        # passes would run them and double-count)
        out = out.select("*", *row_cols, pid)
        exprs = [*metrics, stats] if stats is not None else list(metrics)
        obs = Observation()
        if exprs:
            out = out.observe(obs, *exprs)
        t0 = time.perf_counter()
        out.drop("_pid", "_bucket", *drop).sortWithinPartitions("doc_id").write.mode("overwrite").parquet(stage)
        t1 = time.perf_counter()
        m: dict = {}
        if exprs:
            try:
                m = obs.get
            except Py4JJavaError:
                pass  # AQE replaced an empty output, metrics and all
        f = m.get("f")
        add_files = _files_from_stats(
            f.asDict() if f is not None else None, stage, n_out, snap["schema_version"], bool(n_buckets)
        )
        if add_files is None:
            add_files = _collect_file_stats(self.spark, stage, snap["schema_version"], n_buckets)
        if phases is not None:
            phases["write"] = round(t1 - t0, 4)
            phases["stats"] = round(time.perf_counter() - t1, 4)
        return add_files, m

    def write_stage_local(self, tbl: pa.Table, stage: str, n_out: int, snap: dict) -> list[dict]:
        """``write_stage`` for rows already on the driver: write ``tbl`` into
        ``stage`` with pyarrow as at most ``n_out`` doc_id-sorted snappy
        files (``_dictionary_columns`` says which columns get a dictionary)
        and return their manifest entries, under the same file
        contract — ``_physical_schema_at`` column names and types, the
        snapshot's schema_version, and per-file rows, min/max doc_id and, on
        bucket tables, the sorted bucket set. The bucket ids come from
        ``tbl``'s ``_bkt`` column (the JVM hash, computed by the caller's
        Spark job). Range tables split the sorted rows into contiguous
        slices; bucket tables put bucket b in file ``b % n_out``, so every
        bucket lands wholly inside one file. An empty ``tbl`` writes
        nothing. The Arrow schema is not embedded in the files: Spark reads
        them by name through the explicit physical schema."""
        from pyspark.sql.pandas.types import to_arrow_schema

        version = snap["schema_version"]
        schema = to_arrow_schema(self._physical_schema_at(version))
        dictionary = _dictionary_columns(schema)
        n_buckets = layout_buckets(snap)
        tbl = tbl.sort_by("doc_id")
        if n_buckets:
            file_of = pa.array(tbl.column("_bkt").to_numpy() % n_out)
            parts = [tbl.filter(pc.equal(file_of, i)) for i in range(n_out)]
        else:
            step = -(-tbl.num_rows // n_out)
            parts = [tbl.slice(i * step, step) for i in range(n_out)]
        tag = uuid.uuid4()
        add_files = []
        for i, part in enumerate(parts):
            if not part.num_rows:
                continue
            os.makedirs(stage, exist_ok=True)
            path = os.path.abspath(os.path.join(stage, f"part-{i:05d}-{tag}-c000.snappy.parquet"))
            pq.write_table(
                part.select(schema.names).cast(schema),
                path,
                compression="snappy",
                use_dictionary=dictionary,
                store_schema=False,
            )
            doc = part.column("doc_id")
            entry = {
                "path": path,
                "rows": part.num_rows,
                "min_key": doc[0].as_py(),
                "max_key": doc[-1].as_py(),
                "schema_version": version,
            }
            if n_buckets:
                entry["buckets"] = sorted(set(part.column("_bkt").to_pylist()))
            add_files.append(entry)
        return add_files

    def _recover_head(self) -> int:
        """Roll HEAD forward over fully-written commit files left by a
        writer that crashed between the commit-file create (the CAS point —
        temp-write + fsync + link, so a visible file is always complete)
        and the HEAD pointer update. Without this, the orphaned snapshot id
        would block every later writer's create-exclusive commit."""
        while True:
            head = self.head_id()
            advanced = head
            while os.path.exists(self._commit_path(advanced + 1)):
                advanced += 1
            if advanced == head:
                return head
            # Re-read HEAD immediately before writing and only ever move it
            # FORWARD: without this, writer B (recovered head=4) racing
            # writer A (just committed and wrote HEAD=5) could set HEAD back
            # to 4 — harmless for correctness (commit files are immutable and
            # the next recovery re-rolls) but readers would see a stale head.
            if self.head_id() < advanced:
                _atomic_write_text(os.path.join(self.meta_dir, "HEAD"), str(advanced))
            # loop: a commit that landed during the write is picked up by the
            # rescan; terminates when the scan finds nothing newer

    def commit(
        self,
        add_files: list[dict],
        remove_paths: set[str] | None = None,
        fences: list[dict] | None = None,
        lineage: list[dict] | None = None,
        new_schema: StructType | None = None,
        new_field_ids: dict[str, int] | None = None,
        new_layout: dict | None = None,
        summary: dict | None = None,
        expect_parent: int | None = None,
    ) -> int:
        """Atomic snapshot swap (reference K3 upgraded): new file list =
        (parent files - removed) + added; fences/lineage appended; optional
        schema change rides the same commit. The added files carry the
        ``mor`` flag when their writer set it, or when the removal would
        otherwise drop a mask a live file outside it still needs
        (``keeps_mask``). ``expect_parent`` is the
        optimistic-concurrency check: a writer passes the head it planned
        against and the commit REFUSES if another writer advanced it —
        callers (merge_batch) re-plan against the new head and retry."""
        parent = self._recover_head()
        if expect_parent is not None and parent != expect_parent:
            raise TableCommitError(f"concurrent commit: head={parent}, expected={expect_parent}")
        psnap = self.snapshot(parent)
        remove_paths = remove_paths or set()
        sid = parent + 1
        # the output must keep masking a removed mor entry's older copies
        # outside the removal. New entries get the commit order (the MoR
        # mask ordering); re-added ones keep theirs.
        removed = [f for f in psnap["files"] if f["path"] in remove_paths]
        mor = {"mor": True} if keeps_mask(removed, psnap["files"]) else {}
        files = [f for f in psnap["files"] if f["path"] not in remove_paths] + [
            {**f, **mor, "added_at": f.get("added_at", sid)} for f in add_files
        ]
        commit = {
            "snapshot_id": sid,
            "parent_id": parent,
            "schema_version": psnap["schema_version"] + (1 if new_schema is not None else 0),
            "schema": json.loads(new_schema.json()) if new_schema is not None else psnap["schema"],
            "field_ids": new_field_ids if new_field_ids is not None else self.field_ids(parent),
            "layout": new_layout if new_layout is not None else psnap["layout"],
            "files": files,
            "fences": fences or [],
            "lineage": lineage or [],
            "summary": summary or {},
        }
        path = self._commit_path(sid)
        # create-exclusive: exactly one writer can claim snapshot id `sid`;
        # the loser gets a retryable TableCommitError (merge replans). HEAD
        # is then a plain pointer update — late HEAD writes are harmless
        # because head_id() callers re-resolve and commit files are
        # immutable once created.
        _atomic_create_json(path, commit)
        _atomic_write_text(os.path.join(self.meta_dir, "HEAD"), str(sid))
        self._snap_cache[sid] = commit
        return sid

    # ----------------------------------------------------- schema evolution

    def update_schema(
        self,
        add_columns: list[tuple[str, str]] | None = None,
        widen: dict[str, str] | None = None,
        renames: dict[str, str] | None = None,
    ) -> int:
        """Metadata-only evolution commit (Iceberg ``UpdateSchema`` analog):
        add nullable columns, widen primitive types, and/or rename columns.
        Renames apply FIRST within the commit; ``add_columns``/``widen``
        reference the post-rename names. No data rewrite ever — old files
        are reconciled at read time (added columns read null, narrow types
        cast up, renamed columns resolved through their stable field id).
        Successor of the reference's schema-rebuilding rename
        (``FeatureTypeExtensions.scala:10-29``, which rewrites the feature
        type eagerly).

        Pinned to the schema it planned against (``expect_parent``): two
        racing evolves would otherwise apply the second over the FIRST's
        base and silently drop it; the loser gets TableCommitError and
        re-reads. A concurrent merge also trips the pin — evolve is cheap
        and re-runnable, so strictness beats special-casing."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        base = self.head_id()
        cur = self.schema(base)
        fids = dict(self.field_ids(base))
        fields = {f.name: f for f in cur.fields}
        order = [f.name for f in cur.fields]
        renames = dict(renames or {})
        if renames:
            # validate as a SIMULTANEOUS mapping (dict order must not matter):
            # targets may not collide with each other, with surviving
            # (un-renamed) columns, or with columns being added
            for old in renames:
                if old not in fields:
                    raise TableCommitError(f"unknown column {old}")
                if old == "doc_id":
                    raise TableCommitError("cannot rename the merge key")
            news = list(renames.values())
            if len(set(news)) != len(news):
                raise TableCommitError(f"duplicate rename targets: {sorted(news)}")
            surviving = set(fields) - set(renames)
            added = {n for n, _ in (add_columns or [])}
            for new in news:
                if new in surviving or new in added:
                    raise TableCommitError(f"rename target {new} already exists")
            # apply simultaneously: pop all olds first (a chain may reuse a
            # name another field is giving up in the same call)
            popped = {old: (fields.pop(old), fids.pop(old)) for old in renames}
            for old, new in renames.items():
                f, fid = popped[old]
                fields[new] = StructField(new, f.dataType, nullable=f.nullable)
                fids[new] = fid
            order = [renames.get(n, n) for n in order]
        for name, dt in add_columns or []:
            if name in fields:
                raise TableCommitError(f"column {name} already exists")
            fields[name] = StructField(name, _parse_datatype_string(dt), nullable=True)
            fids[name] = max(fids.values(), default=-1) + 1
            order.append(name)
        for name, dt in (widen or {}).items():
            if name not in fields:
                raise TableCommitError(f"unknown column {name}")
            old_t = fields[name].dataType.simpleString()
            if not can_widen(old_t, dt):
                raise TableCommitError(f"illegal widen {name}: {old_t} -> {dt}")
            fields[name] = StructField(name, _parse_datatype_string(dt), nullable=fields[name].nullable)
        new_schema = StructType([fields[n] for n in order])
        return self.commit(
            add_files=[], new_schema=new_schema, new_field_ids=fids, expect_parent=base
        )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename by stable field id (reference P5)."""
        return self.update_schema(renames={old: new})

    # ---------------------------------------------------------- maintenance

    def expire_snapshots(self, keep_last: int = 1) -> None:
        """Delete data files referenced only by expired snapshots. Metadata
        records are kept (they carry the fence/lineage ledger)."""
        head = self.head_id()
        keep_ids = set(range(max(0, head - keep_last + 1), head + 1))
        live = {f["path"] for s in keep_ids for f in self.snapshot(s)["files"]}
        all_paths = {f["path"] for s in range(head + 1) for f in self.snapshot(s)["files"]}
        for p in all_paths - live:
            if os.path.exists(p):
                os.remove(p)
        # drop now-empty staging dirs
        if os.path.isdir(self.data_dir):
            for d in os.listdir(self.data_dir):
                full = os.path.join(self.data_dir, d)
                if os.path.isdir(full) and not os.listdir(full):
                    shutil.rmtree(full, ignore_errors=True)
