"""Key-partitioned copy-on-write MERGE of a change batch into a LakeTable.

North-rule core: "applied as key-partitioned MERGE upserts ... explicit
repartitionByRange on the merge key before apply ... exactly-once enforced by
idempotent epoch-fenced commits keyed on (checkpoint_epoch, partition_id)".

One epoch runs three stages, retried as a whole on a commit conflict:

1. **Plan** (``_plan``) — LWW-dedup the batch first, so the join touches
   one row per key (the reference's shrink-before-expensive-stage move,
   ``GlobalAiHistoricalTransformationService.scala:45``), and persist it.
   ONE bounded job ships the deduped batch to the driver as Arrow under a
   LIMIT of ``FAST_PATH_MAX_KEYS + 1`` rows. A batch under the cap plans on
   the driver (one bisect per file entry against the sorted keys, or exact
   bucket-set intersection); a bulk batch plans by the table's broadcast
   join of its keys against the per-file stats
   (``LakeTable.touched_files``). Only touched files are rewritten, the
   rest carried forward (Iceberg copy-on-write with manifest pruning); as
   writes are range-partitioned and sorted on doc_id, a batch touching k%
   of the keyspace rewrites ~k% of files. The plan then picks copy-on-write
   or merge-on-read and sizes the write.
2. **Apply** — a change wins iff ``(commit_lsn, op_seq)`` beats the key's
   stored hidden ``(_commit_lsn, _op_seq)``: stale/out-of-order events
   become no-ops, and winning deletes become persisted tombstone rows
   (table.py docstring). ``_apply_local`` resolves a merge-on-read
   microbatch over at most ``DRIVER_MAX_TOUCHED_ROWS`` touched rows with
   pyarrow and writes with ``LakeTable.write_stage_local`` (no second job).
   ``_apply_spark`` picks the same winners in Spark from the per-key max
   version of the touched key/version columns, adds the touched rows no
   change beats under copy-on-write, and writes with
   ``LakeTable.write_stage``, which observes the per-file stats and the
   lineage metrics in the write job itself. The per-file stats become
   the manifest entries the next merge plans against.
3. **Commit** (``_commit``) — one atomic snapshot swap carrying fence
   records ``(checkpoint_epoch, partition_id)`` and per-partition lineage;
   an epoch that applied nothing still fences itself. A replayed epoch is
   detected via the fence ledger and no-ops. The attempt is pinned to the
   snapshot it planned against (``expect_parent``): if a concurrent writer
   advanced HEAD, the commit refuses and the merge REPLANS against the new
   head — the optimistic-concurrency loop of Iceberg/Delta writers.

AQE's skew-join handling covers hot-key skew in the resolve join; the dedup
stage is skew-proof by construction (partial aggregation / salted two-phase,
see operators/dedup.py).
"""

from __future__ import annotations

import bisect
import contextlib
import shutil
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from etl_spark.operators.dedup import lww_dedup, lww_dedup_salted
from etl_spark.schema import HIDDEN_LSN, HIDDEN_SEQ, relax_nullability
from etl_spark.session import expr_cache_get
from etl_spark.table.table import (
    HIDDEN_DELETED,
    LakeTable,
    TableCommitError,
    bucket_col,
    current_buckets,
    layout_buckets,
)


# The keys probe ships the deduped batch to the driver as Arrow under a LIMIT
# of this many rows + 1: a bulk batch returns CAP+1 rows and the driver
# discards them, so no unbounded collect can ever happen. A batch under the
# cap plans its touched files on the driver, and a merge-on-read epoch under
# DRIVER_MAX_TOUCHED_ROWS then resolves and writes there too, so the probe is
# the epoch's ONLY Spark job — for direct merge_batch calls and under the
# streaming tail's foreachBatch alike (the AQE-off scope lands on the batch's
# own session; tests/test_plans.py pins both). On back-to-back microbatch
# epochs the engine-side floor is per-job planning and scheduling, not data
# (Evolution of a Compiling Query Engine, VLDB 2021: short queries are
# interpreted because compile latency would dominate them).
FAST_PATH_MAX_KEYS = 50_000

# A merge-on-read epoch under FAST_PATH_MAX_KEYS resolves on the driver when
# the manifest row total of its touched files is at most this: pyarrow reads
# their key and version columns (filtered to the batch keys), so the bound
# keeps that read under the cost of the Spark resolve+write job it replaces
# (~0.5 s on a 4-core box; sizing run in CHANGES.md). Above it the epoch
# takes the Spark semi-join arm.
DRIVER_MAX_TOUCHED_ROWS = 8_000_000

# The Spark resolve hints a broadcast of its batch-sized NARROW sides — the
# batch keys, the per-key stored versions and the batch versions — when the
# deduped batch holds at most this many rows; the payload-carrying batch and
# target are never broadcast. The value is unmeasured for these narrow sides.
MAX_BROADCAST_ROWS = 100_000

# merge_mode="auto" picks MoR when the touched slice holds more than this
# many rows per deduped batch row: CoW would rewrite that many rows per change.
MOR_REWRITE_RATIO = 8.0

# An epoch's applied changes split by a stable key hash into this many
# lineage partitions; each partition that applies a change gets one lineage
# record and one fence.
LINEAGE_PARTITIONS = 16

# A merge whose commit loses a race to another writer replans against the
# new head up to this many times before the conflict surfaces.
MAX_COMMIT_RETRIES = 3


# Session confs are process-global per SparkSession, and the engine supports
# concurrent writers on one session — so scoped set/restore must be depth-
# counted under a lock (round-4 ADVICE): two interleaved scopes on the same
# (session, key) otherwise capture each other's "false" as prev and leave the
# conf permanently flipped. The outermost enter records the true original and
# sets; nested/concurrent enters just increment; the last exit restores.
# Entries are keyed by id(session) and hold the session object itself: while
# a scope is open its session cannot be collected, so its id() cannot be
# recycled by another session wrapper (foreachBatch wraps every batch's
# session in a fresh Python object) and alias the entry.
_SCOPED_CONF_LOCK = threading.Lock()
_SCOPED_CONF_STATE: dict[tuple, list] = {}  # (id(session), key) -> [session, depth, prev, value]


class _scoped_conf:
    """Set a session conf for the duration of a block, restoring on exit —
    re-entrant and concurrency-safe per (session, key); all concurrent scopes
    on one key must request the same value (a conflict raises RuntimeError).
    Used to disable AQE around microbatch-sized actions: AQE's per-stage
    materialize-and-replan loop roughly doubles tiny-query latency (measured
    ~2x on a 2M-row scan+agg on the bench VM) and its benefits — runtime
    join selection, skew splitting, partition coalescing — need data volumes
    a microbatch never has. Bulk merges keep AQE on."""

    def __init__(self, spark, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        sk = (id(self.spark), self.key)
        with _SCOPED_CONF_LOCK:
            st = _SCOPED_CONF_STATE.get(sk)
            if st is None:
                prev = self.spark.conf.get(self.key, None)
                self.spark.conf.set(self.key, self.value)
                _SCOPED_CONF_STATE[sk] = [self.spark, 1, prev, self.value]
            elif st[3] != self.value:
                raise RuntimeError(
                    f"conflicting scoped values for {self.key}: {st[3]!r} vs {self.value!r}"
                )
            else:
                st[1] += 1

    def __exit__(self, *exc):
        sk = (id(self.spark), self.key)
        with _SCOPED_CONF_LOCK:
            st = _SCOPED_CONF_STATE[sk]
            st[1] -= 1
            if st[1] == 0:
                del _SCOPED_CONF_STATE[sk]
                if st[2] is None:
                    self.spark.conf.unset(self.key)
                else:
                    self.spark.conf.set(self.key, st[2])


def _aqe_off(spark):
    """Scope AQE off on the session that EXECUTES the action. A streaming
    tail's foreachBatch hands merge_batch a DataFrame bound to the query's
    cloned session, not the table's: the persist, the probe and the write
    run there, so that is the session to scope."""
    return _scoped_conf(spark, "spark.sql.adaptive.enabled", "false")


def _lap(phases: dict, name: str, t0: float) -> float:
    """Record a phase's wall seconds (stored in the commit's summary)."""
    now = time.perf_counter()
    phases[name] = round(now - t0, 4)
    return now


@dataclass
class MergeResult:
    snapshot_id: int
    applied: bool
    rows_upserted: int
    rows_deleted: int
    files_rewritten: int
    files_added: int
    mode: str = "cow"


_NORMALIZE_COLS_CACHE: OrderedDict = OrderedDict()


def _normalize_changes(schema: StructType, changes: DataFrame) -> DataFrame:
    """Project the (possibly older/newer-schema) batch onto the table's
    current schema: missing columns -> null, types cast (covers widen).
    The projection Columns are cached (bounded, gateway-scoped LRU) per
    (schema, batch-columns) layout — rebuilt only when the table evolves or
    the feed shape changes."""
    ck = (schema.json(), tuple(changes.columns))

    def _build():
        # pin the key/version/op types: they become the hidden columns'
        # physical parquet types, which the explicit-schema reader
        # (table.py _physical_schema_at) expects to be uniform per file
        cols = [
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("commit_lsn").cast("long").alias("commit_lsn"),
            F.col("op_seq").cast("int").alias("op_seq"),
            F.col("op").cast("string").alias("op"),
        ]
        for f in schema.fields:
            if f.name == "doc_id":
                continue
            if f.name in changes.columns:
                cols.append(F.col(f.name).cast(relax_nullability(f.dataType)).alias(f.name))
            else:
                cols.append(F.lit(None).cast(relax_nullability(f.dataType)).alias(f.name))
        return cols

    return changes.select(*expr_cache_get(_NORMALIZE_COLS_CACHE, ck, _build))


def merge_batch(
    table: LakeTable,
    changes: DataFrame,
    epoch: int,
    target_rows_per_file: int = 1_000_000,
    use_salted_dedup: bool = False,
    merge_mode: str = "auto",
) -> MergeResult:
    """Apply one change batch exactly-once. Returns a no-op result if the
    epoch is already fenced (idempotent replay); on a concurrent-writer
    commit conflict the attempt is discarded and the merge replans against
    the new head (up to ``MAX_COMMIT_RETRIES`` times).

    ``merge_mode``: 'cow' (copy-on-write — rewrite every touched file),
    'mor' (merge-on-read — write ONE batch-sized winners file flagged as an
    equality-delete mask, rewrite nothing; table.py docstring), or 'auto'
    (MoR when the touched slice is > ``MOR_REWRITE_RATIO`` x the deduped
    batch — the microbatch-against-big-table regime where CoW's write
    amplification dominates; CoW otherwise, so bulk batches keep the
    one-version-per-key layout and reads stay mask-free). Both modes pick
    the same winners; copy-on-write also rewrites the touched rows they do
    not beat.

    ``use_salted_dedup``: dedup through the two-phase salted aggregate (the
    hot-key path) instead of the plain ``max_by`` aggregate; both produce
    the identical LWW winner set (operators/dedup.py)."""
    last_err: TableCommitError | None = None
    for _attempt in range(MAX_COMMIT_RETRIES + 1):
        # re-check the fence each attempt: the conflicting writer may have
        # been a replay of THIS epoch
        if table.is_fenced(epoch):
            return MergeResult(table.head_id(), False, 0, 0, 0, 0)
        phases: dict[str, float] = {}
        try:
            # one cleanup scope from the dedup persist on: ANY failure (a
            # probe or planning job, a missing file, the write, a commit
            # conflict) unpersists the batch and drops the staged files;
            # gc_orphans covers only hard crashes that skip this frame
            with contextlib.ExitStack() as cleanup:
                plan = _plan(
                    table,
                    changes,
                    epoch,
                    target_rows_per_file,
                    use_salted_dedup,
                    merge_mode,
                    cleanup,
                    phases,
                )
                add_files, lineage = [], []
                if plan.mode != "empty":
                    stage = table.stage_dir(plan.snap["snapshot_id"] + 1)
                    # exit callback: drops the stage iff the block raised
                    # (its None/False return never swallows the error)
                    cleanup.push(lambda exc_type, *_: exc_type and shutil.rmtree(stage, ignore_errors=True))
                    apply = _apply_local if plan.local else _apply_spark
                    add_files, lineage = apply(table, plan, stage, phases)
                return _commit(table, plan, add_files, lineage, phases)
        except TableCommitError as e:
            last_err = e
    raise last_err


# Plan fragments of the merge that do not depend on the batch — the keys
# probe's extra columns, the resolve's join condition, LWW predicate, per-key version
# aggregate and output projections, the write's lineage Observation —
# are immutable Column trees: built once per table schema and layout and
# rebound to every batch. Rebuilding them every epoch cost ~1,000
# py4j round trips, most of a microbatch's driver time (Evolution of a
# Compiling Query Engine, VLDB 2021: plan construction, not data, dominates
# short queries). Only the batch-dependent parts — the touched-file list
# and the Observations — are built per epoch. Every resolve projection
# emits its columns in WRITE order — key, payload, hidden LWW columns, then
# the lineage-metric columns the write drops — so the write chain needs no
# re-projection.
_METRIC_COLS = ("_applied", "_is_delete", "_was_live", "_existed", "_chg_lsn")
_PROBE_COLS_CACHE: OrderedDict = OrderedDict()
_RESOLVE_FRAGMENTS_CACHE: OrderedDict = OrderedDict()


def _probe_cols(n_buckets: int) -> tuple:
    """The keys probe's layout columns (``n_buckets`` 0 = range layout): on
    a bucket table each key's bucket id, a JVM xxhash64 the driver cannot
    recompute."""
    if not n_buckets:
        return ()
    return expr_cache_get(_PROBE_COLS_CACHE, (n_buckets,), lambda: (bucket_col(n_buckets).alias("_bkt"),))


def _resolve_fragments(schema: StructType) -> dict:
    """Resolve fragments over the table schema: ONE winners rule for both
    merge modes. A change ``c`` wins iff its key has no stored version or
    its ``(commit_lsn, op_seq)`` beats the key's max stored version ``t``:
    ``version_agg`` is that per-key max, ``join`` and ``change_wins`` pick
    the winners and ``select`` projects them. Copy-on-write also rewrites
    every touched row ``t`` that no change beats: joined (``join``) to the
    batch versions ``c``, ``kept`` keeps it and ``kept_select`` projects it,
    never applied. ``changes_only`` is the winners select of a batch that
    touches no file."""
    payload_names = [f.name for f in schema.fields if f.name != "doc_id"]

    def _build() -> dict:
        c_doc, t_doc = F.col("c.doc_id"), F.col("t.doc_id")
        c_lsn, c_seq, c_op = F.col("c.commit_lsn"), F.col("c.op_seq"), F.col("c.op")

        def beats(t_lsn, t_seq):
            return (c_lsn > t_lsn) | ((c_lsn == t_lsn) & (c_seq >= t_seq))

        # the winners' target side is the per-key version argmax (doc_id,
        # _v): its fields are read in place, with no unpacking projection
        v_lsn, v_seq, v_del = (F.col(f"t._v.{h}") for h in (HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED))
        t_lsn, t_seq = F.col(f"t.{HIDDEN_LSN}"), F.col(f"t.{HIDDEN_SEQ}")
        op = F.col("op")
        return {
            "version_agg": F.max(F.struct(HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED)).alias("_v"),
            "join": c_doc == t_doc,
            "change_wins": t_doc.isNull() | beats(v_lsn, v_seq),
            "select": [
                c_doc.alias("doc_id"),
                *[F.col(f"c.{name}").alias(name) for name in payload_names],
                c_lsn.alias(HIDDEN_LSN),
                c_seq.alias(HIDDEN_SEQ),
                (c_op == "D").alias(HIDDEN_DELETED),
                F.lit(True).alias("_applied"),
                (c_op == "D").alias("_is_delete"),
                (~F.coalesce(v_del, F.lit(False))).alias("_was_live"),
                t_doc.isNotNull().alias("_existed"),
                c_lsn.alias("_chg_lsn"),
            ],
            "kept": c_doc.isNull() | ~F.coalesce(beats(t_lsn, t_seq), F.lit(False)),
            "kept_select": [
                t_doc.alias("doc_id"),
                *[F.col(f"t.{name}").alias(name) for name in payload_names],
                t_lsn.alias(HIDDEN_LSN),
                t_seq.alias(HIDDEN_SEQ),
                F.coalesce(F.col(f"t.{HIDDEN_DELETED}"), F.lit(False)).alias(HIDDEN_DELETED),
                # never applied, so the lineage Observation ignores the rest
                F.lit(False).alias("_applied"),
                F.lit(False).alias("_is_delete"),
                F.lit(False).alias("_was_live"),
                F.lit(True).alias("_existed"),
                F.lit(None).cast("long").alias("_chg_lsn"),
            ],
            "changes_only": [
                F.col("doc_id"),
                *[F.col(name) for name in payload_names],
                F.col("commit_lsn").alias(HIDDEN_LSN),
                F.col("op_seq").alias(HIDDEN_SEQ),
                (op == "D").alias(HIDDEN_DELETED),
                F.lit(True).alias("_applied"),
                (op == "D").alias("_is_delete"),
                F.lit(False).alias("_was_live"),
                F.lit(False).alias("_existed"),
                F.col("commit_lsn").alias("_chg_lsn"),
            ],
        }

    return expr_cache_get(_RESOLVE_FRAGMENTS_CACHE, (schema.json(),), _build)


@dataclass
class EpochPlan:
    """What ``_plan`` decided for one merge attempt; the apply arms and
    ``_commit`` read it and nothing else of the batch."""

    epoch: int
    snap: dict  # the snapshot the whole attempt is pinned to
    schema: StructType
    n_buckets: int  # 0 = range layout
    dedup: DataFrame  # the persisted LWW-deduped batch
    batch: pa.Table | None  # the probed batch on the driver; None for a bulk batch
    touched: list[dict]  # the manifest entries the batch may hit
    n_changes: int
    mode: str  # 'empty', 'cow' or 'mor'
    local: bool  # resolve and write on the driver (_apply_local)
    n_files: int  # the apply write's file count


def _plan(
    table: LakeTable,
    changes: DataFrame,
    epoch: int,
    target_rows_per_file: int,
    use_salted_dedup: bool,
    merge_mode: str,
    cleanup: contextlib.ExitStack,
    phases: dict,
) -> EpochPlan:
    """Dedup and persist the batch, probe it, pick the touched files, the
    merge mode and the apply arm, and size the write."""
    if merge_mode not in ("auto", "cow", "mor"):
        raise ValueError(f"unknown merge_mode {merge_mode!r}; one of ['auto', 'cow', 'mor']")
    t0 = time.perf_counter()
    # the session the batch is bound to runs the batch's actions — under a
    # streaming tail that is the query's cloned session, not table.spark
    batch_spark = changes.sparkSession
    # pin the whole attempt to one snapshot: plan, resolve, and commit all
    # see the same table state; commit(expect_parent=...) enforces it
    snap = table.snapshot()
    schema = StructType.fromJson(snap["schema"])
    files, n_buckets = snap["files"], layout_buckets(snap)

    changes = _normalize_changes(schema, changes)
    dedup = lww_dedup_salted(changes) if use_salted_dedup else lww_dedup(changes)
    # dedup feeds both the file-touch planning and the resolve join; persist
    # so the feed scan + dedup shuffle run once per batch, not twice. The
    # cached plan is COMPILED here (CacheManager pins the physical plan at
    # persist time), so AQE is scoped off: an adaptive cached child runs its
    # shuffle as a separate materialization job on every epoch — one of the
    # per-job scheduling taxes the microbatch fast path exists to remove —
    # and buys nothing for an agg whose skew dies in the partial phase.
    with _aqe_off(batch_spark):
        dedup = dedup.persist()
    cleanup.callback(dedup.unpersist)

    # ---- keys probe: ONE bounded job that ships the deduped batch to the
    # driver as Arrow — payload, lineage partition and (bucket tables)
    # bucket id — and decides driver vs bulk planning. Because dedup is one
    # row per key, the row count IS n_changes when under the cap. A bulk
    # batch returns exactly CAP+1 rows and the driver discards them — no
    # unbounded collect; the probe's full-partition evaluation also
    # materializes the dedup cache the later jobs reuse.
    with _aqe_off(batch_spark):
        batch = (
            dedup.select("*", _lineage_metrics(LINEAGE_PARTITIONS)[0], *_probe_cols(n_buckets))
            .limit(FAST_PATH_MAX_KEYS + 1)
            .toArrow()
        )
    if batch.num_rows <= FAST_PATH_MAX_KEYS:
        touched, n_changes = _touched_local(files, batch, n_buckets), batch.num_rows
    else:
        batch = None
        touched, n_changes = table.touched_files(dedup, snap)
    touched_rows = sum(f["rows"] for f in touched)

    # Merge-on-read decision: when a microbatch touches a slice far larger
    # than itself, CoW pays touched_rows of write amplification for
    # n_changes of actual change. MoR writes ONLY the winners (plus masks,
    # which are free — table.py docstring) and defers the rewrite to
    # compaction. Bulk batches stay CoW: their write is ~batch-sized either
    # way, and CoW keeps reads mask-free.
    use_mor = bool(touched) and (
        merge_mode == "mor" or (merge_mode == "auto" and touched_rows > MOR_REWRITE_RATIO * n_changes)
    )
    if use_mor:
        # batch-sized winners-only write with NO parallelism floor: a
        # microbatch must not fragment into `par` near-empty files every
        # epoch (the debt MoR avoids). Bucket tables too — n_buckets files
        # per spread microbatch measured 2.5x the epoch wall — and their
        # entries still carry bucket SETS, so pruning stays exact.
        n_files = max(1, (n_changes // target_rows_per_file) + 1)
    elif n_buckets:
        n_files = n_buckets  # one partition per bucket: a hash exchange, no sampler
    else:
        # ~target_rows_per_file rows each, from what this write holds (the
        # touched slice plus the batch, NOT the whole table). Bulk batches
        # floor at cluster parallelism so the write uses every core (a
        # single write partition is a serial fraction that caps scaling);
        # microbatches drop the floor (>=~100k rows per file up to `par`),
        # and a tiny slice writes ONE file, which also drops the range
        # boundary-sampler pass.
        est_rows = touched_rows + n_changes
        par = table.spark.sparkContext.defaultParallelism
        if batch is not None:
            n_files = max(1, min(par, est_rows // 100_000), (est_rows // target_rows_per_file) + 1)
        else:
            n_files = max(par, (est_rows // target_rows_per_file) + 1)
    _lap(phases, "plan", t0)
    return EpochPlan(
        epoch=epoch,
        snap=snap,
        schema=schema,
        n_buckets=n_buckets,
        dedup=dedup,
        batch=batch,
        touched=touched,
        n_changes=n_changes,
        mode="empty" if not n_changes else "mor" if use_mor else "cow",
        # a merge-on-read microbatch over a bounded touched slice resolves
        # and writes on the driver: the probe stays the epoch's only job
        local=use_mor and batch is not None and touched_rows <= DRIVER_MAX_TOUCHED_ROWS,
        n_files=n_files,
    )


def _touched_local(files: list[dict], batch: pa.Table, n_buckets: int) -> list[dict]:
    """Driver file-touch planning, zero Spark jobs. On a bucket table an
    entry with current bucket tags is touched iff it holds a batch bucket
    (EXACT membership). Any other entry — a range table's, or one a staged
    layout migration has not rewritten yet, whose tags may be under an older
    modulus — is touched iff a batch key lies in its ``[min_key, max_key]``
    (layout-independent, so sound for any file; files are range-tight and
    the keys sorted, so one bisect per entry), and always if it has no
    stats."""
    keys = sorted(batch.column("doc_id").to_pylist())
    buckets = set(batch.column("_bkt").to_pylist()) if n_buckets else set()

    def hit(f: dict) -> bool:
        tags = current_buckets(f) if n_buckets else None
        if tags:
            return not buckets.isdisjoint(tags)
        if f["min_key"] is None:
            return True
        i = bisect.bisect_left(keys, f["min_key"])
        return i < len(keys) and keys[i] <= f["max_key"]

    return [f for f in files if hit(f)]


def _apply_local(table: LakeTable, plan: EpochPlan, stage: str, phases: dict) -> tuple[list[dict], list[dict]]:
    """Resolve a merge-on-read microbatch on the driver and write its
    winners into ``stage`` with pyarrow: no Spark job."""
    t0 = time.perf_counter()
    winners, lineage = _resolve_local(table, plan)
    t0 = _lap(phases, "resolve", t0)
    add_files = table.write_stage_local(winners, stage, plan.n_files, plan.snap)
    _lap(phases, "write", t0)
    return add_files, lineage


def _resolve_local(table: LakeTable, plan: EpochPlan) -> tuple[pa.Table, list[dict]]:
    """The merge-on-read resolve of a probed batch on the driver, with
    pyarrow. Returns the winners (the probe's columns plus the hidden LWW
    columns, for ``LakeTable.write_stage_local``) and the epoch's lineage
    records. Same semantics as the Spark arm: the per-key max stored
    ``(_commit_lsn, _op_seq, _deleted)`` over an UNMASKED read with nulls
    lowest (Spark's struct max), the ``change_wins`` predicate of
    ``_resolve_fragments`` under SQL's three-valued logic (a null compare
    drops the change), and the per-``_lp`` metrics of
    ``_lineage_metric_exprs``."""
    batch = plan.batch
    version_cols = [HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED]
    tv = table.read_key_versions_local(plan.touched, batch.column("doc_id"))
    tv = tv.sort_by([(k, "ascending") for k in ("doc_id", *version_cols)], null_placement="at_start")
    if tv.num_rows:
        # the last row of each key's run is its max version
        doc = tv.column("doc_id").combine_chunks()
        last = pa.concat_arrays([pc.not_equal(doc[1:], doc[:-1]), pa.array([True])])
        tv = tv.take(pc.indices_nonzero(last))
    pos = pc.index_in(batch.column("doc_id"), value_set=tv.column("doc_id").combine_chunks())
    v = tv.take(pos)  # a null position (new key) takes a null version
    existed = pc.is_valid(pos)
    c_lsn, c_seq = batch.column("commit_lsn"), batch.column("op_seq")
    v_lsn, v_seq = v.column(HIDDEN_LSN), v.column(HIDDEN_SEQ)
    wins = pc.or_kleene(
        pc.or_kleene(pc.invert(existed), pc.greater(c_lsn, v_lsn)),
        pc.and_kleene(pc.equal(c_lsn, v_lsn), pc.greater_equal(c_seq, v_seq)),
    )
    w = batch.append_column("_existed", existed).append_column("_v_del", v.column(HIDDEN_DELETED)).filter(wins)
    is_delete = pc.equal(w.column("op"), "D")
    winners = (
        w.append_column(HIDDEN_LSN, w.column("commit_lsn"))
        .append_column(HIDDEN_SEQ, w.column("op_seq"))
        .append_column(HIDDEN_DELETED, is_delete)
    )
    was_live = pc.invert(pc.fill_null(w.column("_v_del"), False))
    dels = pc.and_kleene(pc.and_kleene(is_delete, w.column("_existed")), was_live)
    per_lp = pa.table(
        {
            "_lp": w.column("_lp"),
            "lsn": w.column("commit_lsn"),
            "ups": pc.cast(pc.fill_null(pc.equal(is_delete, False), False), pa.int64()),
            "del": pc.cast(pc.fill_null(dels, False), pa.int64()),
        }
    ).group_by("_lp").aggregate([("lsn", "min"), ("lsn", "max"), ("ups", "sum"), ("del", "sum")])
    per_lp = per_lp.sort_by("_lp")
    rows = zip(*(per_lp.column(c).to_pylist() for c in ("_lp", "lsn_min", "lsn_max", "ups_sum", "del_sum")))
    return winners, _lineage_records(plan.epoch, rows)


def _apply_spark(table: LakeTable, plan: EpochPlan, stage: str, phases: dict) -> tuple[list[dict], list[dict]]:
    """Resolve in Spark and write through ``LakeTable.write_stage``, which
    returns the manifest entries from the write job's own per-file stats.
    The lineage metrics ride the same Observation (per-lineage-partition
    min/max/sums as conditional aggregates over a stable key hash), so no
    separate job scans the resolved relation."""
    t0 = time.perf_counter()
    resolved = _resolve_spark(table, plan)
    # Although only one ACTION consumes resolved, the range write evaluates
    # it TWICE when n_files > 1 — repartitionByRange's boundary-sampling
    # pass executes the exchange child before the write tasks do — so the
    # CoW path (payload-heavy resolve join) persists it and the sampler
    # materializes the cache for the write. The MoR path skips the cache:
    # its resolve is a pair of batch-sized broadcast joins, cheaper to
    # recompute than to serialize through the block store. Bucket layout
    # also skips it (hash exchange, no sampling pass), as does a
    # single-file write (repartitionByRange(1) plans no sampler).
    persisted = plan.mode == "cow" and not plan.n_buckets and plan.n_files > 1
    if persisted:
        resolved = resolved.persist()
    lp, lineage_metrics = _lineage_metrics(LINEAGE_PARTITIONS)
    _lap(phases, "wbuild", t0)
    # microbatches: AQE's stage-replan loop costs more than it could ever
    # save on batch-sized shuffles
    fast = plan.batch is not None and (plan.mode == "mor" or plan.n_buckets or plan.n_files == 1)
    try:
        with _aqe_off(resolved.sparkSession) if fast else contextlib.nullcontext():
            add_files, m = table.write_stage(
                resolved,
                stage,
                plan.n_files,
                plan.snap,
                row_cols=(lp,),
                metrics=(lineage_metrics,),
                drop=(*_METRIC_COLS, "_lp"),
                phases=phases,
            )
    finally:
        if persisted:
            resolved.unpersist()
    m = m["m"].asDict()
    keys = ("lsn_min", "lsn_max", "ups", "del")
    rows = ((p, *(m[f"{k}_{p}"] for k in keys)) for p in range(LINEAGE_PARTITIONS))
    return add_files, _lineage_records(plan.epoch, rows)


def _resolve_spark(table: LakeTable, plan: EpochPlan) -> DataFrame:
    """LWW-resolve the batch against the touched slice of the table. The
    winners take their payload from the CHANGE rows, so the target is read
    only to decide who wins: an UNMASKED narrow read (``load_key_versions``)
    semi-joined to the batch keys and reduced to the per-key max version —
    by the LWW invariant a change only lands by beating the stored version,
    so that max IS the current state, and the aggregate is batch-sized.
    Merge-on-read writes the winners alone. Copy-on-write also rewrites the
    touched rows no change beats, read rename-aware and masked
    (``load_files``, tombstones included) and joined to the batch's narrow
    versions. Only batch-sized narrow sides — keys, per-key versions and
    batch versions — are broadcast, and only under ``MAX_BROADCAST_ROWS``."""
    dedup = plan.dedup
    rf = _resolve_fragments(plan.schema)
    if not plan.touched:
        # an empty table or all-new keys: every change wins
        return dedup.select(rf["changes_only"])
    hint = F.broadcast if plan.n_changes <= MAX_BROADCAST_ROWS else (lambda df: df)
    narrow = table.load_key_versions(plan.touched).join(hint(dedup.select("doc_id")), "doc_id", "left_semi")
    versions = hint(narrow.groupBy("doc_id").agg(rf["version_agg"])).alias("t")
    # every row the LWW predicate keeps is applied: the winners select is
    # the write input as-is
    winners = dedup.alias("c").join(versions, rf["join"], "left_outer").where(rf["change_wins"]).select(rf["select"])
    if plan.mode == "mor":
        return winners
    batch_versions = hint(dedup.select("doc_id", "commit_lsn", "op_seq")).alias("c")
    target = table.load_files(plan.touched, plan.snap).alias("t")
    kept = target.join(batch_versions, rf["join"], "left_outer").where(rf["kept"]).select(rf["kept_select"])
    return winners.unionByName(kept)


def _commit(
    table: LakeTable, plan: EpochPlan, add_files: list[dict], lineage: list[dict], phases: dict
) -> MergeResult:
    """Commit the attempt's files, fences and lineage on the snapshot it
    planned against. An epoch that applied nothing (an empty batch, or
    only stale events) still fences itself under partition -1: streaming
    tails deliver empty microbatches and resume must stay monotone."""
    head0 = plan.snap["snapshot_id"]
    fences = [
        {"checkpoint_epoch": plan.epoch, "partition_id": p, "committed_at_snapshot": head0 + 1}
        for p in [r["partition_id"] for r in lineage] or [-1]
    ]
    rows_upserted = sum(r["rows_upserted"] for r in lineage)
    rows_deleted = sum(r["rows_deleted"] for r in lineage)
    cow = plan.mode == "cow"
    # the MoR winners file doubles as the equality-delete mask: readers
    # drop same-key rows from older files (table.py docstring). A CoW
    # rewrite that REMOVES a winners file inherits its flag in
    # LakeTable.commit, whose mask-inheritance rule covers every removal:
    # the copies it masked may live in files this batch did not touch.
    if plan.mode == "mor":
        for f in add_files:
            f["mor"] = True
    # another writer advancing HEAD after we planned raises
    # TableCommitError here: merge_batch drops the staged files and replans
    new_sid = table.commit(
        add_files=add_files,
        remove_paths={f["path"] for f in plan.touched} if cow else set(),
        fences=fences,
        lineage=lineage,
        summary={
            "rows_upserted": rows_upserted,
            "rows_deleted": rows_deleted,
            "epoch": plan.epoch,
            "mode": plan.mode,
            "phase_s": phases,
        },
        expect_parent=head0,
    )
    n_removed = len(plan.touched) if cow else 0
    return MergeResult(new_sid, True, rows_upserted, rows_deleted, n_removed, len(add_files), mode=plan.mode)


_LINEAGE_FIELDS = ("partition_id", "lsn_min", "lsn_max", "rows_upserted", "rows_deleted")


def _lineage_records(epoch: int, rows) -> list[dict]:
    """The commit's lineage records from ``(partition, lsn_min, lsn_max,
    rows upserted, rows deleted)`` rows in partition order. A partition
    with no applied change (null ``lsn_min``) gets no record."""
    return [{"checkpoint_epoch": epoch, **dict(zip(_LINEAGE_FIELDS, r))} for r in rows if r[1] is not None]


# The lineage Observation — ~65 conditional aggregates — costs hundreds of
# py4j round-trips to build, so it is built once per lineage_partitions and
# reused for every epoch.
_LINEAGE_METRICS_CACHE: OrderedDict = OrderedDict()


def _lineage_metrics(lineage_partitions: int) -> tuple:
    """The write's lineage inputs: the per-row lineage partition ``_lp``
    (the key hash computed ONCE per row, so the aggregates compare an int
    column instead of each re-hashing the key — cheaper to analyze, plan
    and run) and the lineage aggregates as ONE struct column ``m``: a
    struct crosses py4j as one handle where ~65 separate aggregates cost a
    round trip each, every epoch."""

    def _build():
        lp = F.pmod(F.xxhash64("doc_id"), F.lit(lineage_partitions)).cast("int").alias("_lp")
        return lp, F.struct(*_lineage_metric_exprs(lineage_partitions)).alias("m")

    return expr_cache_get(_LINEAGE_METRICS_CACHE, (lineage_partitions,), _build)


def _lineage_metric_exprs(lineage_partitions: int) -> list:
    applied = F.col("_applied")
    lp = F.col("_lp")
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for p in range(lineage_partitions):
        inp = applied & (lp == p)
        exprs += [
            F.min(F.when(inp, F.col("_chg_lsn"))).alias(f"lsn_min_{p}"),
            F.max(F.when(inp, F.col("_chg_lsn"))).alias(f"lsn_max_{p}"),
            F.sum(F.when(inp & ~F.col("_is_delete"), 1).otherwise(0)).alias(f"ups_{p}"),
            F.sum(
                F.when(inp & F.col("_is_delete") & F.col("_existed") & F.col("_was_live"), 1).otherwise(0)
            ).alias(f"del_{p}"),
        ]
    return exprs
