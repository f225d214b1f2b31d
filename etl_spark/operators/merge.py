"""Key-partitioned copy-on-write MERGE of a change batch into a LakeTable.

North-rule core: "applied as key-partitioned MERGE upserts ... explicit
repartitionByRange on the merge key before apply ... exactly-once enforced by
idempotent epoch-fenced commits keyed on (checkpoint_epoch, partition_id)".

Physical strategy (built-in Spark ops, plus pyarrow on the driver for
microbatch merge-on-read; the planner lives above Catalyst, SURVEY.md §4.2):

1. **Dedup first** — LWW-reduce the batch so the join touches one row per key
   (the reference's shrink-before-expensive-stage move,
   ``GlobalAiHistoricalTransformationService.scala:45``).
2. **Probe and plan** — ONE bounded job ships the deduped batch to the
   driver as Arrow (payload plus the JVM-computed lineage partition and, on
   bucket tables, bucket id) under a LIMIT of ``FAST_PATH_MAX_KEYS + 1``
   rows. A batch under the cap plans on the driver: one bisect per file
   entry against the sorted keys, or exact bucket-set intersection; only
   touched files are rewritten, everything else is carried forward
   (Iceberg copy-on-write with manifest pruning). A bulk batch plans by a
   broadcast join of the batch keys against the per-file stats instead.
   Because apply writes with ``repartitionByRange(doc_id)`` +
   ``sortWithinPartitions``, files are tight, non-overlapping key ranges, so
   a batch touching k% of the keyspace rewrites ~k% of files.
3. **Resolve** — a change wins iff ``(commit_lsn, op_seq)`` beats the
   key's stored hidden ``(_commit_lsn, _op_seq)``: stale/out-of-order
   events become no-ops, and winning deletes become persisted tombstone
   rows (see table.py docstring on why tombstones must be kept for
   cross-batch ordering). Copy-on-write joins the touched target with the
   batch in Spark. Merge-on-read compares against the per-key max stored
   version only: a microbatch whose touched files hold at most
   ``DRIVER_MAX_TOUCHED_ROWS`` rows resolves on the driver with pyarrow
   (no second job); a larger one runs a Spark semi-join and aggregate.
4. **Apply** — the table's stage writers: ``LakeTable.write_stage`` range-
   or bucket-partitions and sorts in Spark, observing per-file stats in the
   write job itself; ``LakeTable.write_stage_local`` writes a driver-
   resolved winners table with pyarrow under the same file contract. The
   per-file stats (rows, min/max, bucket sets) become the manifest entries
   the next merge plans against.
5. **Commit** — single atomic snapshot swap carrying fence records
   ``(checkpoint_epoch, partition_id)`` and per-partition lineage (lsn ranges,
   rows upserted/deleted). A replayed epoch is detected via the fence ledger
   and no-ops (forced double-apply test). The whole attempt is pinned to the
   snapshot it planned against (``expect_parent``); if a concurrent writer
   advanced HEAD in between, the commit refuses and the merge REPLANS against
   the new head and retries — the optimistic-concurrency loop every real lake
   writer (Iceberg/Delta) runs.

AQE's skew-join handling covers hot-key skew in the resolve join; the dedup
stage is skew-proof by construction (partial aggregation / salted two-phase,
see operators/dedup.py).
"""

from __future__ import annotations

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
    keeps_mask,
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

# CoW resolve: a deduped batch of at most this many rows is broadcast into a
# left-outer join against the touched target (plus a keys-only anti-join for
# new keys); larger batches take the sort-merge full-outer join. A Spark MoR
# resolve broadcasts its batch keys and per-key versions under the same
# bound.
# Measured on 400k-row deduped batches (~220 MB with token payloads): the
# broadcast build/probe costs MORE than the sort-merge shuffle (8.4M-event
# replay: 41 s vs 25-30 s at 8 cores), so the bound stays at microbatch scale.
MAX_BROADCAST_ROWS = 100_000

# merge_mode="auto" picks MoR when the touched slice holds more than this
# many rows per deduped batch row: CoW would rewrite that many rows per change.
MOR_REWRITE_RATIO = 8.0


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
    lineage_partitions: int = 16,
    target_rows_per_file: int = 1_000_000,
    use_salted_dedup: bool = False,
    max_commit_retries: int = 3,
    merge_mode: str = "auto",
) -> MergeResult:
    """Apply one change batch exactly-once. Returns a no-op result if the
    epoch is already fenced (idempotent replay); on a concurrent-writer
    commit conflict the attempt is discarded and the merge replans against
    the new head (up to ``max_commit_retries`` times).

    ``merge_mode``: 'cow' (copy-on-write — rewrite every touched file),
    'mor' (merge-on-read — write ONE batch-sized winners file flagged as an
    equality-delete mask, rewrite nothing; table.py docstring), or 'auto'
    (MoR when the touched slice is > ``MOR_REWRITE_RATIO`` x the deduped
    batch — the microbatch-against-big-table regime where CoW's write
    amplification dominates; CoW otherwise, so bulk batches keep the
    one-version-per-key layout and reads stay mask-free). The resolve join
    is picked from the deduped batch size (``MAX_BROADCAST_ROWS``).

    ``use_salted_dedup``: dedup through the two-phase salted aggregate (the
    hot-key path) instead of the plain ``max_by`` aggregate; both produce
    the identical LWW winner set (operators/dedup.py)."""
    last_err: TableCommitError | None = None
    for _attempt in range(max_commit_retries + 1):
        # re-check the fence each attempt: the conflicting writer may have
        # been a replay of THIS epoch
        if table.is_fenced(epoch):
            return MergeResult(table.head_id(), False, 0, 0, 0, 0)
        try:
            return _merge_attempt(
                table,
                changes,
                epoch,
                lineage_partitions,
                target_rows_per_file,
                use_salted_dedup,
                merge_mode,
            )
        except TableCommitError as e:
            last_err = e
    raise last_err


# Plan fragments of the merge that do not depend on the batch — the keys
# probe's extra columns, the resolve's join condition, LWW predicate, per-key version
# aggregate and output projections, the write's lineage Observation —
# are immutable Column trees: built once per (table schema, layout, merge
# mode) and rebound to every batch. Rebuilding them every epoch cost ~1,000
# py4j round trips, most of a microbatch's driver time (Evolution of a
# Compiling Query Engine, VLDB 2021: plan construction, not data, dominates
# short queries). Only the batch-dependent parts — the touched-file list
# and the Observations — are built per epoch. Every resolve projection
# emits its columns in WRITE order — key, payload, hidden LWW columns, then
# the lineage-metric columns the write drops — so the write chain needs no
# re-projection.
_METRIC_COLS = ("_applied", "_is_delete", "_was_live", "_existed", "_chg_lsn")
_LAYOUT_FRAGMENTS_CACHE: OrderedDict = OrderedDict()
_RESOLVE_FRAGMENTS_CACHE: OrderedDict = OrderedDict()


def _layout_fragments(n_buckets: int) -> dict:
    """Layout-dependent fragments (``n_buckets`` 0 = range layout): the
    keys probe's layout columns, and the bulk-planning join's batch column,
    hit predicate and file-stats schema."""

    def _build() -> dict:
        doc_id = F.col("doc_id")
        frags = {}
        if not n_buckets:
            frags["probe"] = ()
            frags["plan_key"] = doc_id
            frags["plan_hit"] = (doc_id >= F.col("min_key")) & (doc_id <= F.col("max_key"))
            frags["plan_schema"] = "path string, min_key string, max_key string"
            return frags
        bucket = bucket_col(n_buckets).alias("_bkt")
        # bucket layout ships each key's bucket id: a JVM xxhash64 the
        # driver cannot recompute
        frags["probe"] = (bucket,)
        frags["plan_key"] = bucket
        frags["plan_hit"] = F.col("_bkt") == F.col("bucket")
        frags["plan_schema"] = "path string, bucket int"
        return frags

    return expr_cache_get(_LAYOUT_FRAGMENTS_CACHE, (n_buckets,), _build)


def _resolve_fragments(schema: StructType, mode: str) -> dict:
    """Resolve fragments of one merge mode over the table schema. ``mor``:
    the per-key version argmax, the join condition, the LWW predicate and
    the winners select. ``cow``: the join condition, the resolve select
    (LWW predicate inlined) and the changes-only select for keys with no
    target row."""
    payload_names = [f.name for f in schema.fields if f.name != "doc_id"]

    def _build() -> dict:
        c_doc, t_doc = F.col("c.doc_id"), F.col("t.doc_id")
        c_lsn, c_seq, c_op = F.col("c.commit_lsn"), F.col("c.op_seq"), F.col("c.op")
        if mode == "mor":
            # the target side is the per-key version argmax (doc_id, _v):
            # its fields are read in place, with no unpacking projection
            v_lsn, v_seq, v_del = (F.col(f"t._v.{h}") for h in (HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED))
            return {
                "version_agg": F.max(F.struct(HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED)).alias("_v"),
                "join": c_doc == t_doc,
                "change_wins": t_doc.isNull() | (c_lsn > v_lsn) | ((c_lsn == v_lsn) & (c_seq >= v_seq)),
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
            }
        t_lsn, t_seq, t_del = F.col(f"t.{HIDDEN_LSN}"), F.col(f"t.{HIDDEN_SEQ}"), F.col(f"t.{HIDDEN_DELETED}")
        beats = (c_lsn > t_lsn) | ((c_lsn == t_lsn) & (c_seq >= t_seq))
        change_wins = t_doc.isNull() | (c_lsn.isNotNull() & beats)
        wins = c_doc.isNotNull() & change_wins
        op = F.col("op")
        return {
            "join": t_doc == c_doc,
            "select": [
                F.coalesce(c_doc, t_doc).alias("doc_id"),
                *[
                    F.when(wins, F.col(f"c.{name}")).otherwise(F.col(f"t.{name}")).alias(name)
                    for name in payload_names
                ],
                F.when(wins, c_lsn).otherwise(t_lsn).alias(HIDDEN_LSN),
                F.when(wins, c_seq).otherwise(t_seq).alias(HIDDEN_SEQ),
                F.when(wins, c_op == "D")
                .otherwise(F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
                .alias(HIDDEN_DELETED),
                wins.alias("_applied"),
                (c_op == "D").alias("_is_delete"),
                (~F.coalesce(t_del, F.lit(False))).alias("_was_live"),
                t_doc.isNotNull().alias("_existed"),
                c_lsn.alias("_chg_lsn"),
            ],
            # change rows with no target counterpart (new keys / empty
            # table): the change always applies
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

    return expr_cache_get(_RESOLVE_FRAGMENTS_CACHE, (schema.json(), mode), _build)


def _merge_attempt(
    table: LakeTable,
    changes: DataFrame,
    epoch: int,
    lineage_partitions: int,
    target_rows_per_file: int,
    use_salted_dedup: bool,
    merge_mode: str,
) -> MergeResult:
    if merge_mode not in ("auto", "cow", "mor"):
        raise ValueError(f"unknown merge_mode {merge_mode!r}; one of ['auto', 'cow', 'mor']")
    phases: dict[str, float] = {}
    _t = time.perf_counter()
    spark = table.spark
    # the session the batch is bound to runs the batch's actions — under a
    # streaming tail that is the query's cloned session, not table.spark
    batch_spark = changes.sparkSession
    # pin the whole attempt to one snapshot: plan, resolve, and commit all
    # see the same table state; commit(expect_parent=...) enforces it
    snap = table.snapshot()
    head0 = snap["snapshot_id"]
    schema = StructType.fromJson(snap["schema"])

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

    # ---- plan: which files does this batch touch?
    files = snap["files"]
    n_buckets = layout_buckets(snap)
    is_bucket = n_buckets > 0
    lf = _layout_fragments(n_buckets)
    if is_bucket:
        # bucket layout: a file with current bucket tags plans by EXACT
        # membership, not a range test. Files without them — among them the
        # ones a staged layout migration has not rewritten yet, whose tags
        # may be under an older modulus — plan by key RANGE (min/max stats
        # are layout-independent), which is sound for any file
        plannable = [f for f in files if current_buckets(f)]
        rest = [f for f in files if not current_buckets(f)]
        range_plannable = [f for f in rest if f["min_key"] is not None]
        unplannable = [f for f in rest if f["min_key"] is None]
    else:
        plannable = [f for f in files if f["min_key"] is not None]
        range_plannable = []
        unplannable = [f for f in files if f["min_key"] is None]  # no stats -> always touched
    touched_paths: set[str] = {f["path"] for f in unplannable}
    n_changes: int

    # ---- keys probe: ONE bounded job that ships the deduped batch to the
    # driver as Arrow — payload, lineage partition and (bucket tables)
    # bucket id — and decides driver vs bulk planning. Because dedup is one
    # row per key, the row count IS n_changes when under the cap. A bulk
    # batch returns exactly CAP+1 rows and the driver discards them — no
    # unbounded collect; the probe's full-partition evaluation also
    # materializes the dedup cache the later jobs reuse.
    with _aqe_off(batch_spark):
        batch = (
            dedup.select("*", _lineage_metrics(lineage_partitions)[0], *lf["probe"])
            .limit(FAST_PATH_MAX_KEYS + 1)
            .toArrow()
        )
    if batch.num_rows <= FAST_PATH_MAX_KEYS:
        import bisect

        def _range_touch(entries: list[dict], keys: list[str]) -> None:
            # driver-side file-touch planning: files are range-tight (range-
            # partitioned writes), keys are sorted — one bisect per file
            # entry, O(F log K) on the driver, zero Spark jobs. Exactly the
            # join predicate doc_id BETWEEN min_key AND max_key, locally.
            for f in entries:
                i = bisect.bisect_left(keys, f["min_key"])
                if i < len(keys) and keys[i] <= f["max_key"]:
                    touched_paths.add(f["path"])

        batch_keys = sorted(batch.column("doc_id").to_pylist())
        if is_bucket:
            batch_buckets = set(batch.column("_bkt").to_pylist())
            for f in plannable:
                if not batch_buckets.isdisjoint(f["buckets"]):
                    touched_paths.add(f["path"])
            _range_touch(range_plannable, batch_keys)
        else:
            _range_touch(plannable, batch_keys)
        n_changes = len(batch_keys)
    else:
        batch = None
        # bulk planning: the batch keys join the plannable files' stats
        # (key ranges, or exact (path, bucket) pairs on bucket tables),
        # broadcast
        if is_bucket:
            # mid-migration stale files count as touched: a
            # >FAST_PATH_MAX_KEYS batch of hash-scattered keys intersects a
            # wide-range file with near certainty, so an exact range join
            # would almost never prune one — and touching them progresses
            # the migration (the CoW rewrite emits them in the current layout)
            touched_paths |= {f["path"] for f in range_plannable}
        if plannable:
            from pyspark.sql import Observation

            stats_df = spark.createDataFrame(
                [(f["path"], b) for f in plannable for b in f["buckets"]]
                if is_bucket
                else [(f["path"], f["min_key"], f["max_key"]) for f in plannable],
                lf["plan_schema"],
            )
            # the batch-size signal for the resolve-strategy choice rides the
            # planning job as an Observation — no extra action (a dedup.count()
            # here would recompute the whole dedup before the cache exists)
            obs_plan = Observation(f"plan-epoch-{epoch}")
            # LEFT outer, not inner: when a batch touches NO file (all-new
            # keys) an inner join's output is empty and AQE re-plans the
            # query as an empty relation, dropping the CollectMetrics
            # accumulators. The null-path rows keep the output as large as
            # the batch — never empty here, since a bulk batch holds more
            # than FAST_PATH_MAX_KEYS keys — so the metrics always survive.
            hits = (
                dedup.observe(obs_plan, F.count(F.lit(1)).alias("n"))
                .select(lf["plan_key"])
                .join(F.broadcast(stats_df), lf["plan_hit"], "left_outer")
                .select("path")
                .distinct()
                .collect()
            )
            touched_paths |= {r["path"] for r in hits if r["path"] is not None}
            n_changes = obs_plan.get["n"]
        else:
            # no plannable files: initial load, or stale / stats-less entries
            # only (already all touched). One count sizes the write; it reads
            # from the cache the probe job just materialized.
            n_changes = dedup.count()
    _t = _lap(phases, "plan", _t)

    if n_changes == 0:
        # empty deduped batch: nothing to resolve or write. Still fence the
        # epoch — streaming tails deliver empty microbatches and resume must
        # stay monotone — via a files-unchanged commit.
        dedup.unpersist()
        new_sid = table.commit(
            add_files=[],
            fences=[{"checkpoint_epoch": epoch, "partition_id": -1, "committed_at_snapshot": head0 + 1}],
            lineage=[],
            summary={"rows_upserted": 0, "rows_deleted": 0, "epoch": epoch, "mode": "empty", "phase_s": phases},
            expect_parent=head0,
        )
        return MergeResult(new_sid, True, 0, 0, 0, 0, mode="empty")

    touched_rows = sum(f["rows"] for f in files if f["path"] in touched_paths)
    # Merge-on-read decision: when a microbatch touches a slice far larger
    # than itself, CoW pays touched_rows of write amplification for
    # n_changes of actual change. MoR writes ONLY the winners (plus masks,
    # which are free — table.py docstring) and defers the rewrite to
    # compaction. Bulk batches stay CoW: their write is ~batch-sized either
    # way, and CoW keeps reads mask-free.
    use_mor = bool(touched_paths) and (
        merge_mode == "mor" or (merge_mode == "auto" and touched_rows > MOR_REWRITE_RATIO * n_changes)
    )
    rf = _resolve_fragments(schema, "mor" if use_mor else "cow")

    # ---- resolve LWW against the touched slice of the table
    # rename-aware field-id reads (table.load_files): touched files may
    # predate a column rename/add/widen; includes tombstone rows. The full
    # (masked, payload-bearing) target is built ONLY on the CoW path — the
    # MoR resolve reads just the key and version columns
    # (table.load_key_versions, or read_key_versions_local on the driver).
    touched_entries = [f for f in files if f["path"] in touched_paths] if touched_paths else []
    # a merge-on-read microbatch over a bounded touched slice resolves and
    # writes on the driver: the probe stays the epoch's only job
    local = use_mor and batch is not None and touched_rows <= DRIVER_MAX_TOUCHED_ROWS
    c = dedup.alias("c")
    if local:
        resolved = None  # resolved and written on the driver below
    elif use_mor:
        # MoR resolve: the winners file takes its payload from the CHANGE
        # rows, so the target is needed only to decide who wins — a
        # column-pruned scan of (doc_id, version columns), never the token
        # payload. No table payload crosses the wire; write amplification
        # AND read volume are batch-sized.
        small_batch = n_changes <= MAX_BROADCAST_ROWS
        # UNMASKED narrow read + per-key version argmax, instead of the
        # file-level mask join: by the LWW invariant a change only lands by
        # beating the stored version, so the max (_commit_lsn, _op_seq) row
        # per key IS the current state. Skipping _apply_mor_masks here
        # drops the per-epoch mask scan + broadcast (which grow with the
        # mor backlog) from the hot path; the agg below runs over the
        # batch-keyed slice only (semi-join first), so it's batch-sized.
        keys = dedup.select("doc_id")
        narrow = table.load_key_versions(touched_entries).join(
            F.broadcast(keys) if small_batch else keys, "doc_id", "left_semi"
        )
        tgtv = narrow.groupBy("doc_id").agg(rf["version_agg"])
        t = F.broadcast(tgtv.alias("t")) if small_batch else tgtv.alias("t")
        # every row the LWW predicate keeps is applied: the winners select
        # is the write input as-is
        resolved = c.join(t, rf["join"], "left_outer").where(rf["change_wins"]).select(rf["select"])
    elif touched_entries:
        target = table.load_files(touched_entries, snap)
        # The full-outer SortMergeJoin shuffles the touched target payload a
        # second time (range write already shuffles it once). When the
        # deduped batch is small — the common microbatch case — the same
        # result decomposes into (a) target LEFT OUTER broadcast(changes):
        # target payload never crosses the wire for the join, and (b) a
        # keys-only anti-join supplying brand-new keys. Bulk batches above
        # MAX_BROADCAST_ROWS keep the SMJ full-outer.
        use_broadcast = n_changes <= MAX_BROADCAST_ROWS
        t = target.alias("t")
        if use_broadcast:
            joined = t.join(F.broadcast(c), rf["join"], "left_outer")
        else:
            joined = t.join(c, rf["join"], "full_outer")
        resolved = joined.select(rf["select"])
        if use_broadcast:
            # brand-new keys: anti-join against a keys-only (column-pruned)
            # scan of the touched files — narrow shuffle of keys, no payload
            new_rows = dedup.join(target.select("doc_id"), on="doc_id", how="left_anti")
            resolved = resolved.unionByName(new_rows.select(rf["changes_only"]))
    else:
        resolved = dedup.select(rf["changes_only"])

    # ---- size the apply write (before the persist decision, which keys on
    # whether a boundary sampler will exist at all)
    par = spark.sparkContext.defaultParallelism
    if use_mor:
        # batch-sized winners-only write: sized by n_changes with NO
        # parallelism floor — a microbatch must not fragment into `par`
        # near-empty files every epoch (that debt is exactly what MoR
        # avoids); forced-mor bulk batches still fan out by size.
        n_files = max(1, (n_changes // target_rows_per_file) + 1)
    else:
        # file count: ~target_rows_per_file rows each. Bulk batches floor at
        # cluster parallelism so the apply write always uses every core — a
        # single write partition is a serial fraction that caps scaling
        # (Amdahl). MICRObatches (probed under the cap) drop the floor: a
        # small touched slice must not fragment into `par` near-empty files
        # per epoch — >=~100k rows per file up to `par`, and a genuinely
        # tiny slice writes ONE file, which also removes the range
        # boundary-sampler pass entirely. Sized from what this write
        # actually contains — the touched slice plus the batch — NOT the
        # whole table's row count.
        est_rows = touched_rows + n_changes
        if is_bucket:
            # one output partition per bucket: a plain hash exchange, no
            # boundary sampler
            n_files = n_buckets
        elif batch is not None:
            n_files = max(1, min(par, est_rows // 100_000), (est_rows // target_rows_per_file) + 1)
        else:
            n_files = max(par, (est_rows // target_rows_per_file) + 1)

    # Although only one ACTION consumes resolved, the range write evaluates
    # it TWICE when n_files > 1 — repartitionByRange's boundary-sampling
    # pass executes the exchange child before the write tasks do — so the
    # CoW path (payload-heavy resolve join) persists it and the sampler
    # materializes the cache for the write. The MoR path skips the cache:
    # its resolve is a pair of batch-sized broadcast joins, cheaper to
    # recompute than to serialize through the block store. Bucket layout
    # also skips it (hash exchange, no sampling pass), as does a
    # single-file write (repartitionByRange(1) plans no sampler).
    persisted = not use_mor and not is_bucket and n_files > 1
    if persisted:
        resolved = resolved.persist()
    stage: str | None = None
    committed = False
    try:
        # ---- apply: the table's stage writer partitions, sorts and writes
        # the rows and returns their manifest entries from the write job's
        # own per-file stats. The lineage metrics ride the same Observation
        # (per-lineage-partition min/max/sums as conditional aggregates over
        # a stable key hash), so no separate job scans the resolved
        # relation. A driver-resolved epoch computes the same metrics in
        # its pyarrow resolve and writes through write_stage_local. MoR
        # winners on a bucket table are sized by the batch like any winners
        # file (a spread microbatch hashes into every bucket, so n_buckets
        # partitions would fan one batch-sized write into n_buckets tiny
        # files per epoch, measured 2.5x the epoch wall); their entries
        # still carry bucket SETS, so bucket pruning and the bucket-local
        # compaction closure stay exact.
        sid_next = head0 + 1
        stage = table.stage_dir(sid_next)
        if local:
            winners, m = _resolve_local(table, batch, touched_entries)
            _t = _lap(phases, "resolve", _t)
            add_files = table.write_stage_local(winners, stage, n_files, snap)
            _lap(phases, "write", _t)
        else:
            lp, lineage_metrics = _lineage_metrics(lineage_partitions)
            _t = _lap(phases, "wbuild", _t)
            # microbatches: AQE's stage-replan loop costs more than it could
            # ever save on batch-sized shuffles
            fast = batch is not None and (use_mor or is_bucket or n_files == 1)
            with _aqe_off(resolved.sparkSession) if fast else contextlib.nullcontext():
                add_files, m = table.write_stage(
                    resolved,
                    stage,
                    n_files,
                    snap,
                    row_cols=(lp,),
                    metrics=(lineage_metrics,),
                    drop=(*_METRIC_COLS, "_lp"),
                    phases=phases,
                )
            m = m["m"].asDict()
        lineage = []
        for p in range(lineage_partitions):
            if m.get(f"lsn_min_{p}") is None:
                continue
            lineage.append(
                {
                    "checkpoint_epoch": epoch,
                    "partition_id": p,
                    "lsn_min": m[f"lsn_min_{p}"],
                    "lsn_max": m[f"lsn_max_{p}"],
                    "rows_upserted": m[f"ups_{p}"],
                    "rows_deleted": m[f"del_{p}"],
                }
            )
        fences = [
            {"checkpoint_epoch": epoch, "partition_id": r["partition_id"], "committed_at_snapshot": sid_next}
            for r in lineage
        ] or [{"checkpoint_epoch": epoch, "partition_id": -1, "committed_at_snapshot": sid_next}]
        rows_upserted = sum(r["rows_upserted"] for r in lineage)
        rows_deleted = sum(r["rows_deleted"] for r in lineage)
        # the MoR winners file doubles as the equality-delete mask: readers
        # drop same-key rows from older files (table.py docstring). A CoW
        # rewrite that REMOVES a winners file kills its mask, while the
        # copies it masked may live in files this batch did NOT touch (the
        # winners file spans every key its MoR epoch applied; this batch
        # intersects part of it) and would resurrect as duplicate keys
        # (interleaved mor-then-cow, tests/test_merge_on_read.py). So the
        # output inherits the flag under the table layer's rule that every
        # maintenance rewrite also applies (table.keeps_mask); compact_mor
        # sheds the debt.
        if use_mor or keeps_mask(touched_entries, files):
            for f in add_files:
                f["mor"] = True
        # another writer advancing HEAD after we planned raises
        # TableCommitError here: this attempt's files are orphaned — the
        # finally below drops them and merge_batch replans
        new_sid = table.commit(
            add_files=add_files,
            remove_paths=set() if use_mor else touched_paths,
            fences=fences,
            lineage=lineage,
            summary={
                "rows_upserted": rows_upserted,
                "rows_deleted": rows_deleted,
                "epoch": epoch,
                "mode": "mor" if use_mor else "cow",
                "phase_s": phases,
            },
            expect_parent=head0,
        )
        committed = True
        return MergeResult(
            new_sid,
            True,
            rows_upserted,
            rows_deleted,
            0 if use_mor else len(touched_paths),
            len(add_files),
            mode="mor" if use_mor else "cow",
        )
    finally:
        if not committed and stage is not None:
            # ANY failure after staging (write error, metrics, commit
            # conflict) leaves orphaned files — remove them; gc_orphans
            # covers only hard crashes that skip this frame entirely
            shutil.rmtree(stage, ignore_errors=True)
        if persisted:
            resolved.unpersist()
        dedup.unpersist()


def _resolve_local(table: LakeTable, batch: pa.Table, touched_entries: list[dict]) -> tuple:
    """The merge-on-read resolve of a probed batch on the driver, with
    pyarrow. Returns the winners (the probe's columns plus the hidden LWW
    columns, for ``LakeTable.write_stage_local``) and the lineage metrics
    keyed like the Spark arm's Observation. Same
    semantics as the Spark arm: the per-key max stored ``(_commit_lsn,
    _op_seq, _deleted)`` over an UNMASKED read with nulls lowest (Spark's
    struct max), the ``change_wins`` predicate of ``_resolve_fragments``
    under SQL's three-valued logic (a null compare drops the change), and
    the per-``_lp`` metrics of ``_lineage_metric_exprs``."""
    version_cols = [HIDDEN_LSN, HIDDEN_SEQ, HIDDEN_DELETED]
    tv = table.read_key_versions_local(touched_entries, batch.column("doc_id"))
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
    m = {}
    for r in per_lp.to_pylist():
        p = r["_lp"]
        m.update(
            {
                f"lsn_min_{p}": r["lsn_min"],
                f"lsn_max_{p}": r["lsn_max"],
                f"ups_{p}": r["ups_sum"],
                f"del_{p}": r["del_sum"],
            }
        )
    return winners, m


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
