"""Similarity search over an embedding column (`array<float>`).

Adds the vector capability a training-data pipeline pairs with token dedup:
near-duplicate detection and approximate-nearest-neighbor retrieval over
document embeddings.

Two physical strategies:

- **brute-force top-k** — all-pairs cosine + per-query top-k. Exact; the
  O(n^2 d) baseline used to measure ANN recall. Expressed with built-in
  higher-order array functions (zip_with/aggregate — JVM-side, codegen'd),
  never a Python loop.
- **LSH (random-hyperplane) bucketed top-k** — the scale path: each vector
  hashes to a sign-pattern bucket per hyperplane table; candidates are pairs
  sharing a bucket, so cost ~ n * bucket_occupancy instead of n^2. Multiple
  tables trade recall for cost. An IVF variant would swap the hash for a
  k-means coarse quantizer — same join shape.

Numeric determinism: embeddings are scaled to exact int64 (round(x * 1e6))
before any arithmetic, so dot products and norms are integer-exact and
cross-engine reproducible; cosine is emitted in integer micro-units.
Hyperplane coefficients are a fixed integer formula (plane p, dim d) ->
((p*131 + d*31) mod 17) - 8, reproducible in ANSI SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

EMB_SCALE = 1_000_000


def scaled_embedding(col: Column | str) -> Column:
    """array<float> -> exact array<bigint> (micro-units)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * EMB_SCALE).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v)


def _norm2(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine_micro(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine * 1e6 as bigint from pre-scaled integer vectors + norms.

    All inputs integer-exact, so sqrt/divide see identical doubles in every
    engine; round() is half-away-from-zero in both Spark and DuckDB.
    """
    return F.round(_dot(a, b).cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))) * EMB_SCALE).cast("long")


def _prepped(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = scaled_embedding(vec_col)
    return embeddings.select(F.col(id_col).alias("vid"), v.alias("v")).withColumn("n2", _norm2(F.col("v")))


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (vec_id, neighbor_id, rank,
    cos_micro). Ties broken by neighbor id (total order => deterministic).

    Plan: an unhinted n x n join — the planner broadcasts a side that
    measures small and falls back to a cartesian product otherwise (the
    side grows with the corpus, so it is never forced) — then a per-query
    top-k window. At 10^8+ vectors use lsh_topk; this operator is the
    recall oracle.
    """
    from pyspark.sql import Window

    a = _prepped(embeddings, id_col, vec_col).alias("a")
    b = _prepped(embeddings, id_col, vec_col).alias("b")
    pairs = (
        a.join(b, F.col("a.vid") != F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_id"),
            F.col("b.vid").alias("neighbor_id"),
            cosine_micro(F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")).alias("cos_micro"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_micro"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_micro")
    )


N_PLANES = 8


def hyperplane_bucket(v: Column, n_planes: int = N_PLANES, dim: int = 64, plane_offset: int = 0) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(<v, plane_{p+offset}>)
    with the fixed integer plane formula — deterministic, SQL-reproducible.
    ``plane_offset`` selects a disjoint plane family per LSH table
    (OR-amplification, lsh_topk_multi)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        q = p + plane_offset
        coefs = F.array(*[F.lit(((q * 131 + d * 31) % 17) - 8) for d in range(dim)])
        proj = F.aggregate(F.zip_with(v, coefs, lambda x, c: x * c), F.lit(0).cast("long"), lambda acc, x: acc + x)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_topk(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k cosine neighbors via hyperplane-bucket candidate
    generation: join keyed on the bucket id (never all-pairs), exact cosine +
    top-k within the candidate set. Output shape = brute_force_topk (rank may
    have fewer than k rows when a bucket is small — the recall trade)."""
    from pyspark.sql import Window

    prepped = _prepped(embeddings, id_col, vec_col).withColumn(
        "bucket", hyperplane_bucket(F.col("v"), n_planes, dim)
    )
    a = prepped.alias("a")
    b = prepped.alias("b")
    pairs = (
        a.join(b, on="bucket")
        .where(F.col("a.vid") != F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_id"),
            F.col("b.vid").alias("neighbor_id"),
            cosine_micro(F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")).alias("cos_micro"),
        )
        .distinct()
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_micro"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_micro")
    )


def lsh_topk_multi(
    embeddings: DataFrame,
    k: int = 3,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Multi-table hyperplane LSH top-k (OR-amplification): ``n_tables``
    independent plane families each bucket the vectors; a pair is a candidate
    if it collides in ANY table — recall improves ~(1 - (1-p)^T) per pair
    while every join stays keyed on (table, bucket), never all-pairs.

    Implemented as ONE join: the prepped vectors are unioned across tables
    with a ``tbl`` discriminator (a T-way row replication — narrow, no
    shuffle), the self-join keys on (tbl, bucket), and cross-table duplicate
    candidates collapse in the pre-top-k ``distinct``. Output shape =
    lsh_topk; recall >= the single-table path by construction (its candidate
    set is table 0's)."""
    from pyspark.sql import Window

    prepped = _prepped(embeddings, id_col, vec_col)
    tables = [
        prepped.select(
            "vid",
            "v",
            "n2",
            F.lit(t).alias("tbl"),
            hyperplane_bucket(F.col("v"), n_planes, dim, plane_offset=t * n_planes).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    banded = tables[0]
    for tdf in tables[1:]:
        banded = banded.unionByName(tdf)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on=["tbl", "bucket"])
        .where(F.col("a.vid") != F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_id"),
            F.col("b.vid").alias("neighbor_id"),
            cosine_micro(F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")).alias("cos_micro"),
        )
        .distinct()
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_micro"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_micro")
    )


def _assign_cells(prepped: DataFrame, cents: DataFrame, nprobe: int = 1) -> DataFrame:
    """Assign each vector to its ``nprobe`` highest-cosine centroids (ties
    by centroid id): broadcast the centroid set into an n x n_cells narrow
    join + a per-vector top-nprobe window. nprobe=1 is the INDEX-side
    assignment (each vector lives in one cell); nprobe>1 is the QUERY-side
    probe set (the standard IVF recall knob — a query checks its runner-up
    cells too, cost ~ nprobe x bucket occupancy, still never all-pairs)."""
    from pyspark.sql import Window

    w_assign = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cvid"))
    return (
        prepped.join(F.broadcast(cents))
        .withColumn("ccos", cosine_micro(F.col("v"), F.col("cv"), F.col("n2"), F.col("cn2")))
        .withColumn("_rn", F.row_number().over(w_assign))
        .where(F.col("_rn") <= nprobe)
        .select("vid", "v", "n2", "cvid")
    )


def kmeans_centroids(prepped: DataFrame, n_cells: int, n_iters: int) -> DataFrame:
    """Deterministic integer-exact k-means codebook as DataFrame jobs.

    Init: the ``n_cells`` vectors with the lowest ``md5(vid)`` (a uniform,
    replay-stable sample). Each Lloyd iteration = one assignment join + one
    per-dimension mean: ``posexplode`` the assigned vectors, aggregate
    ``floor(sum/count)`` per (cell, dim) — integer floor of an
    IEEE-deterministic double division, so the trained centroids are
    bit-identical across engines (the ann_ivf_topk oracle unrolls the same
    iterations in SQL) — and reassemble the centroid arrays. Cells that
    attract no vectors drop out (standard Lloyd degeneracy; determinism
    keeps the drop identical everywhere). Centroid identity stays the
    seeding vid throughout so assignment tie-breaks are stable.

    Returns (cvid, cv, cn2) — the centroid "CTE" every IVF caller swaps in;
    the assignment/cell-join/top-k shapes never change."""
    cents = (
        prepped.withColumn("_h", F.md5(F.col("vid").cast("string")))
        .orderBy("_h")
        .limit(n_cells)
        .select(F.col("vid").alias("cvid"), F.col("v").alias("cv"), F.col("n2").alias("cn2"))
    )
    for _ in range(n_iters):
        assigned = _assign_cells(prepped, cents)
        per_dim = (
            assigned.select("cvid", F.posexplode("v").alias("d", "x"))
            .groupBy("cvid", "d")
            .agg(F.floor(F.sum("x").cast("double") / F.count(F.lit(1))).cast("long").alias("nv"))
        )
        cents = (
            per_dim.groupBy("cvid")
            .agg(F.array_sort(F.collect_list(F.struct("d", "nv"))).alias("dn"))
            .select("cvid", F.transform("dn", lambda t: t["nv"]).alias("cv"))
            .withColumn("cn2", _norm2(F.col("cv")))
        )
    if n_iters > 0:
        # materialize the codebook (n_cells x dim integers — driver-trivial,
        # and it ships to executors as a broadcast either way): downstream
        # consumers join the final centroids several times (assignment +
        # both pair-join sides) and must not recompute the whole training
        # lineage each time
        spark = prepped.sparkSession
        cents = spark.createDataFrame(cents.collect(), cents.schema)
    return cents


def ivf_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: a k-means coarse quantizer partitions vectors
    into cells; candidates are same-cell pairs (never all-pairs).

    The codebook is ``kmeans_centroids`` — md5-seeded init refined by
    ``n_iters`` integer-exact Lloyd iterations (``n_iters=0`` degenerates
    to the round-2 sampled quantizer). Every vector joins against the
    broadcast centroid set (n x n_cells, narrow) and lands in the cell of
    its highest-cosine centroid (ties by centroid id). Recall rises with
    training (measured: 2 Lloyd iterations beat the raw sample on the test
    corpus), with ``n_cells`` shrinking, or with ``nprobe`` > 1 (the query
    side also checks its runner-up cells — index side stays single-cell, so
    candidates grow ~linearly in nprobe, never toward all-pairs); output
    shape = lsh_topk."""
    from pyspark.sql import Window

    prepped = _prepped(embeddings, id_col, vec_col)
    cents = kmeans_centroids(prepped, n_cells, n_iters)
    index = _assign_cells(prepped, cents).withColumnRenamed("cvid", "cell")
    probe = (
        index
        if nprobe == 1
        else _assign_cells(prepped, cents, nprobe=nprobe).withColumnRenamed("cvid", "cell")
    )
    a = probe.alias("a")
    b = index.alias("b")
    pairs = (
        a.join(b, on="cell")
        .where(F.col("a.vid") != F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_id"),
            F.col("b.vid").alias("neighbor_id"),
            cosine_micro(F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")).alias("cos_micro"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_micro"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_micro")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold_micro: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_micro) with
    cosine >= threshold and id_a < id_b. Exact all-pairs here; at scale the
    same predicate runs over lsh_topk candidates instead."""
    a = _prepped(embeddings, id_col, vec_col).alias("a")
    b = _prepped(embeddings, id_col, vec_col).alias("b")
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            cosine_micro(F.col("a.v"), F.col("b.v"), F.col("a.n2"), F.col("b.n2")).alias("cos_micro"),
        )
        .where(F.col("cos_micro") >= threshold_micro)
    )
