"""SparkSession construction tuned for the CDC/ingest workload.

Replaces the reference's runtime bootstrap (``Application.scala:15-25`` — ZIO
runtime + ZLayer wiring) with a SparkSession builder. Every knob here is a
scale decision:

- AQE on: runtime coalescing of the post-dedup shuffle and skew-join splitting
  for hot ``doc_id`` ranges (north rule names skew explicitly).
- ``spark.sql.shuffle.partitions`` proportional to cores locally; on a real
  cluster this is set ~2-3x total executor cores via ``spark-submit --conf``.
- Arrow enabled with a large batch size so pandas-UDF token transforms amortize
  the Python round-trip (SURVEY.md §7.3: Arrow batch sizes are a serial-fraction
  risk for the >=0.8 scaling-efficiency gate).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Callable

from pyspark.sql import SparkSession

# Bounded, gateway-scoped LRU for py4j Column/expression handles (round-4
# ADVICE): module-level expression caches otherwise grow without bound across
# schema/column layouts and hold py4j handles that outlive the SparkSession —
# a restarted in-process gateway would serve stale JVM references. Keys are
# prefixed with the live gateway's identity so a gateway restart naturally
# orphans (and soon evicts) the old entries; each entry holds its gateway
# object, so a stopped gateway's id() cannot be recycled by a new gateway
# while an entry still names it. The cap keeps the worst case at
# EXPR_CACHE_MAX plan fragments per cache.
EXPR_CACHE_MAX = 64
_EXPR_CACHE_LOCK = threading.Lock()


def expr_cache_get(cache: "OrderedDict", key: tuple, build: Callable):
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    k = (id(gateway),) + key
    with _EXPR_CACHE_LOCK:
        hit = cache.get(k)
        if hit is not None and hit[0] is gateway:
            cache.move_to_end(k)
            return hit[1]
    val = build()
    with _EXPR_CACHE_LOCK:
        cache[k] = (gateway, val)
        while len(cache) > EXPR_CACHE_MAX:
            cache.popitem(last=False)
    return val


def build_session(
    app_name: str = "etl-spark-cdc",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession.

    ``cores`` only matters for local mode; on a cluster, ``master`` comes from
    spark-submit and this function only applies SQL-level conf.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # ~1x cores locally: each reduce task gets a core; AQE coalesces further.
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list file sets on the driver up to this many paths: the manifest
        # already KNOWS the files, so a distributed listing job (default
        # threshold 32) is a pure per-epoch job-scheduling tax; above 2048
        # paths (only plausible for whole-table bulk reads on object
        # stores) the parallel listing takes over again
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
        # legacy escapedStringLiterals would change the semantics of every
        # string literal in SQL text; pin it off (the merge itself passes no
        # key through the SQL parser)
        .config("spark.sql.parser.escapedStringLiterals", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
