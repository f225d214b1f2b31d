"""Round-5 regression pins (ADVICE round 4).

1. The fast-path IN-list parse is immune to ``spark.sql.parser.
   escapedStringLiterals`` being flipped on by a caller: merge scopes the
   conf off around the one F.expr round-trip (and build_session pins it off).
2. ``_scoped_conf`` is depth-counted per (session, key): nested/concurrent
   scopes restore the TRUE original value instead of each other's "false".
3. The module-level Column caches are bounded LRUs keyed by the live py4j
   gateway, so schema churn can't grow them without bound.
"""

from __future__ import annotations

import gc
import threading
import weakref
from collections import OrderedDict

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_spark.operators import merge as merge_mod
from etl_spark.operators.merge import _scoped_conf, merge_batch
from etl_spark.session import EXPR_CACHE_MAX, expr_cache_get
from etl_spark.table import LakeTable

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


def test_fast_path_immune_to_escaped_string_literals_conf(spark, tmp_table_dir):
    """ADVICE r4 (merge.py fast path): with legacy escapedStringLiterals=true
    a fast path that built its key filter as SQL text with C-style escaping
    silently mis-matched backslash/quote keys — a missed key is treated as
    absent from the target, so a STALE event (lower lsn than the stored row)
    incorrectly WINS as a fresh insert (reproduced then: the MoR path
    returned 777 for both hostile keys). The fast path now matches keys on
    the driver with pyarrow, so no key ever passes through the SQL parser;
    the conf must not change the outcome in either mode."""
    hostile = ["k'quote", "k\\back\\slash", "k\\'both", "plain"]
    for mode in ("cow", "mor"):
        root = tmp_table_dir + "_" + mode
        table = LakeTable.create_if_absent(spark, root, SCHEMA)
        merge_batch(
            table, _batch(spark, [(k, 10 + i, 0, "U", 100 + i, "s") for i, k in enumerate(hostile)]), epoch=0
        )
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
        try:
            stale = _batch(spark, [(k, 1, 0, "U", 777, "stale") for k in hostile])
            merge_batch(table, stale, epoch=1, merge_mode=mode)
        finally:
            spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
        rows = table.read().collect()
        got = {row["doc_id"]: row["value_cents"] for row in rows}
        assert len(rows) == len(hostile), f"{mode}: duplicate/missing rows {rows}"
        assert got == {k: 100 + i for i, k in enumerate(hostile)}, f"{mode}: stale event won"


def test_scoped_conf_nested_restores_original(spark):
    key = "spark.sql.adaptive.enabled"
    orig = spark.conf.get(key)
    with _scoped_conf(spark, key, "false"):
        assert spark.conf.get(key) == "false"
        with _scoped_conf(spark, key, "false"):
            assert spark.conf.get(key) == "false"
        # inner exit must NOT restore yet (depth-counted)
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == orig


def test_scoped_conf_concurrent_interleave_restores_original(spark):
    """The round-4 ADVICE failure shape: scope B enters while scope A holds
    the conf at 'false'; a naive implementation captures 'false' as B's prev
    and leaves AQE permanently disabled after both exit."""
    key = "spark.sql.adaptive.enabled"
    orig = spark.conf.get(key)
    gate_a_set = threading.Event()
    gate_b_done = threading.Event()

    def scope_b():
        gate_a_set.wait(10)
        with _scoped_conf(spark, key, "false"):
            pass
        gate_b_done.set()

    t = threading.Thread(target=scope_b)
    t.start()
    with _scoped_conf(spark, key, "false"):
        gate_a_set.set()
        assert gate_b_done.wait(10)
        # B exited while A still holds the scope: conf stays at the scoped value
        assert spark.conf.get(key) == "false"
    t.join()
    assert spark.conf.get(key) == orig


def test_scoped_conf_conflicting_values_raise(spark):
    """A concurrent scope asking for a DIFFERENT value on the same
    (session, key) is refused with an error, never silently merged — and
    the refused enter leaves the open scope and the conf untouched."""
    key = "spark.sql.adaptive.enabled"
    orig = spark.conf.get(key)
    with _scoped_conf(spark, key, "false"):
        with pytest.raises(RuntimeError, match="conflicting scoped values"):
            with _scoped_conf(spark, key, "true"):
                pass
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == orig
    assert not any(k[1] == key for k in merge_mod._SCOPED_CONF_STATE)


class _Conf(dict):
    def get(self, key, default=None):
        return super().get(key, default)

    def set(self, key, value):
        self[key] = value

    def unset(self, key):
        self.pop(key, None)


class _Session:
    """Just the ``conf`` surface _scoped_conf uses. Unlike a SparkSession
    wrapper, nothing else references it, so CPython can reuse its id()."""

    def __init__(self):
        self.conf = _Conf()


def test_scoped_conf_entry_cannot_alias_a_recycled_session_id():
    """Scopes are keyed by id(session), and a streaming tail wraps every
    batch's session in a fresh Python object. An entry left open (here by
    an abandoned scope) must pin its session: once a session is collected,
    a new one may be allocated at its id() and be served the dead session's
    entry — which would skip setting its conf, or refuse it as a conflict."""
    key = "spark.sql.adaptive.enabled"
    abandoned = _Session()
    abandoned_id, ref = id(abandoned), weakref.ref(abandoned)
    _scoped_conf(abandoned, key, "false").__enter__()  # never exited
    del abandoned
    gc.collect()
    try:
        assert ref() is not None, "an open scope entry let its session be collected"
        session = _Session()
        with _scoped_conf(session, key, "true"):
            assert session.conf.get(key) == "true"
        assert session.conf.get(key) is None
    finally:
        with merge_mod._SCOPED_CONF_LOCK:
            merge_mod._SCOPED_CONF_STATE.pop((abandoned_id, key), None)


def test_expr_cache_is_bounded_lru(spark):
    cache: OrderedDict = OrderedDict()
    for i in range(EXPR_CACHE_MAX + 40):
        expr_cache_get(cache, ("layout", i), lambda i=i: [i])
    assert len(cache) == EXPR_CACHE_MAX
    # most-recent keys survive, oldest evicted
    assert expr_cache_get(cache, ("layout", EXPR_CACHE_MAX + 39), lambda: ["rebuilt"]) == [
        EXPR_CACHE_MAX + 39
    ]
    rebuilt = expr_cache_get(cache, ("layout", 0), lambda: ["rebuilt"])
    assert rebuilt == ["rebuilt"]


def test_merge_expr_caches_are_bounded(spark, tmp_table_dir):
    """The production caches route through expr_cache_get (spot-check one)."""
    before = len(merge_mod._LINEAGE_METRICS_CACHE)
    merge_mod._lineage_metrics(16)
    merge_mod._lineage_metrics(16)
    after = len(merge_mod._LINEAGE_METRICS_CACHE)
    assert after <= max(before + 1, EXPR_CACHE_MAX)
    assert isinstance(merge_mod._LINEAGE_METRICS_CACHE, OrderedDict)
