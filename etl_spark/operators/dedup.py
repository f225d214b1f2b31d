"""Last-writer-wins dedup per ``doc_id`` on ``(commit_lsn, op_seq)``.

North-rule core operator (BASELINE.json: "deduplicated per doc_id via
last-writer-wins on (commit_lsn, op_seq)"). The reference has no dedup — its
feed is naturally unique per (file, cell) — but its *early aggregation before
the expensive stage* pattern (10x downsample before polygonize,
``src/globalai/historical/transform/GlobalAiHistoricalTransformationService.scala:45``)
is exactly why dedup runs BEFORE the MERGE join: shrink the change set so the
join touches minimal data (SURVEY.md §4.1).

Two physical strategies, same logical result:

1. ``lww_dedup`` (default): ``max_by(struct(payload), struct(lsn, seq))``
   aggregate. This is the scale winner: partial (map-side) aggregation
   means a hot doc_id is pre-combined on every input partition before the
   shuffle, so skew largely disappears for free. (Physically Spark plans
   SortAggregate — the array-payload buffer is immutable, ruling out the
   hash variant — but the partial/final split, which is what kills skew,
   is preserved; asserted in tests/test_plans.py.)
2. ``lww_dedup_salted``: explicit two-phase salted aggregate — partial LWW
   per (doc_id, salt), then final LWW per doc_id. LWW is a max over a total
   order, hence associative + commutative, so the two-phase split is exact
   (tested against strategy 1). Strategy 1's partial aggregation already
   removes hot-key skew; this path is kept as the engine's one hot-key path
   because BASELINE.json's north star names "a salted-key repartition path
   for hot doc_id skew" (``merge_batch(use_salted_dedup=True)``).

Both strategies are pure Catalyst (whole-stage codegen, no Python).
"""

from __future__ import annotations

from collections import OrderedDict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from etl_spark.session import expr_cache_get

ORDER_COLS = ("commit_lsn", "op_seq")

# Column objects are immutable name-resolved-at-analysis plan fragments, so
# the max_by aggregate + unpack projection are built once per column layout
# and reused across epochs — a long microbatch replay otherwise pays the
# ~50 py4j round-trips of rebuilding them on every merge (driver serial
# fraction, part of the "plan" seconds in each merge commit's
# summary["phase_s"]). Bounded gateway-scoped LRU (round-4 ADVICE) so
# schema churn can't grow it and a gateway restart orphans stale handles.
_LWW_EXPRS_CACHE: OrderedDict = OrderedDict()


def _payload_cols(df: DataFrame, key: str) -> list[str]:
    return [c for c in df.columns if c not in (key, *ORDER_COLS)]


def _lww_exprs(key: str, payload: list[str]) -> tuple:
    def _build():
        win = F.max_by(
            F.struct(*[F.col(c) for c in (*ORDER_COLS, *payload)]),
            F.struct(*[F.col(c) for c in ORDER_COLS]),
        ).alias("_w")
        unpack = [F.col(f"_w.{c}").alias(c) for c in (*ORDER_COLS, *payload)]
        return (win, unpack)

    return expr_cache_get(_LWW_EXPRS_CACHE, (key, *payload), _build)


def lww_dedup(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """One winning event per key via max_by hash aggregate (partial+final)."""
    win, unpack = _lww_exprs(key, _payload_cols(df, key))
    return df.groupBy(key).agg(win).select(key, *unpack)


def lww_dedup_salted(df: DataFrame, key: str = "doc_id", salt_buckets: int = 32) -> DataFrame:
    """Explicit two-phase salted LWW for hot keys.

    Salt is derived from the event's own order columns (deterministic, no
    rand()) so replay is stable; phase 1 reduces each (key, salt) group on a
    salted shuffle, phase 2 reduces the <= salt_buckets survivors per key.
    """
    payload = _payload_cols(df, key)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in ORDER_COLS]), F.lit(salt_buckets)).alias("_salt")
    win = F.max_by(
        F.struct(*[F.col(c) for c in (*ORDER_COLS, *payload)]),
        F.struct(*[F.col(c) for c in ORDER_COLS]),
    )
    phase1 = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(win.alias("_w"))
    phase2 = (
        phase1.select(key, *[F.col(f"_w.{c}").alias(c) for c in (*ORDER_COLS, *payload)])
        .groupBy(key)
        .agg(win.alias("_w"))
    )
    return phase2.select(key, *[F.col(f"_w.{c}").alias(c) for c in (*ORDER_COLS, *payload)])
