"""Token-transform library: values vs pandas oracles + the vectorization gate
(BASELINE.md "UDF discipline": no BatchEvalPython in any engine plan)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from etl_spark.functions.tokens import (
    append_eos,
    assert_vectorized_plan,
    chunk_for_training,
    clamp_vocab,
    drop_token,
    recount,
    token_stats,
    truncate_tokens,
)

ROWS = [
    ("a", list(range(10))),
    ("b", [5, 99999, 3, -1, 7]),
    ("c", list(range(25))),
    ("d", [1]),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id string, tokens array<int>").cache()


def test_catalyst_transforms(spark, docs):
    out = docs.select(
        "doc_id",
        truncate_tokens("tokens", 4).alias("trunc"),
        append_eos("tokens", eos_id=2, max_len=6).alias("eos"),
        recount("tokens").alias("n"),
        drop_token("tokens", 3).alias("no3"),
        clamp_vocab("tokens", vocab=100, unk_id=0).alias("clamped"),
    )
    assert_vectorized_plan(out)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got["a"]["trunc"] == list(range(4))
    assert got["a"]["eos"] == [0, 1, 2, 3, 4] + [2]
    assert got["c"]["n"] == 25
    assert got["b"]["no3"] == [5, 99999, -1, 7]
    assert got["b"]["clamped"] == [5, 0, 3, 0, 7]
    assert got["d"]["eos"] == [1, 2]


def test_token_stats(spark, docs):
    r = token_stats(docs).collect()[0]
    assert r["n_seq"] == 4
    assert r["total_tokens"] == 10 + 5 + 25 + 1
    assert r["max_tokens"] == 25


def test_chunk_for_training_matches_oracle(spark, docs):
    out = chunk_for_training(docs, seq_len=8, stride=8)
    assert_vectorized_plan(out)
    got = out.toPandas().sort_values(["doc_id", "chunk_id"]).reset_index(drop=True)

    exp_rows = []
    for doc_id, toks in ROWS:
        if len(toks) <= 8:
            exp_rows.append((doc_id, 0, toks, len(toks)))
        else:
            for cid, start in enumerate(range(0, len(toks), 8)):
                piece = toks[start : start + 8]
                if piece:
                    exp_rows.append((doc_id, cid, piece, len(piece)))
    exp = pd.DataFrame(exp_rows, columns=["doc_id", "chunk_id", "tokens", "n_tok"]).sort_values(
        ["doc_id", "chunk_id"]
    ).reset_index(drop=True)
    assert len(got) == len(exp)
    for i in range(len(exp)):
        assert got.iloc[i]["doc_id"] == exp.iloc[i]["doc_id"]
        assert list(got.iloc[i]["tokens"]) == list(exp.iloc[i]["tokens"])


def test_chunk_overlapping_stride(spark, docs):
    out = chunk_for_training(docs.where("doc_id = 'c'"), seq_len=10, stride=5).toPandas()
    chunks = [list(t) for t in out.sort_values("chunk_id")["tokens"]]
    assert chunks[0] == list(range(10))
    assert chunks[1] == list(range(5, 15))
    assert chunks[-1][-1] == 24


def test_vectorization_gate_catches_row_udf(spark, docs):
    from pyspark.sql.functions import udf

    bad = udf(lambda xs: len(xs), "int")
    df = docs.select(bad("tokens").alias("n"))
    with pytest.raises(AssertionError, match="BatchEvalPython"):
        assert_vectorized_plan(df)


def test_engine_plans_are_vectorized(spark, tmp_table_dir):
    """The whole merge pipeline must stay JVM-side (zero Python eval nodes)."""
    from etl_spark.datagen import BinlogSpec, generate_binlog
    from etl_spark.operators.dedup import lww_dedup, lww_dedup_salted

    feed = generate_binlog(spark, BinlogSpec(n_events=200, n_keys=20, seed=3)).drop(
        "delivery_pos", "lsn_bucket"
    )
    assert_vectorized_plan(feed)
    assert_vectorized_plan(lww_dedup(feed))
    assert_vectorized_plan(lww_dedup_salted(feed))


# ---------------------------------------------- distributed vocab-id rank


def test_distributed_sorted_rank_matches_global_window(spark):
    from pyspark.sql import Window

    from etl_spark.functions.tokens import distributed_sorted_rank

    words = spark.range(2000).select(
        F.format_string("w%04d", F.pmod(F.xxhash64("id"), F.lit(313))).alias("w")
    )
    got = {r["w"]: r["tid"] for r in distributed_sorted_rank(words, "w", "tid").collect()}
    ref = (
        words.select("w")
        .distinct()
        .withColumn("tid", (F.row_number().over(Window.orderBy("w")) - 1).cast("int"))
    )
    want = {r["w"]: r["tid"] for r in ref.collect()}
    assert got == want and len(got) > 100
    assert sorted(got.values()) == list(range(len(got)))  # dense 0-based ids


def test_distributed_sorted_rank_plan_has_no_global_window(spark):
    """The rank over the distinct values must be partitioned by the range
    partition — never an unpartitioned window over the full distinct set
    (vocabularies over web text are unbounded). The only single-partition
    window is the offsets one over the <= parallelism per-partition counts."""
    from etl_spark.functions.tokens import distributed_sorted_rank

    words = spark.range(100).select(F.format_string("w%03d", F.col("id")).alias("w"))
    plan = distributed_sorted_rank(words, "w", "tid")._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(w" not in plan  # old global ORDER BY w window
    assert "windowspecdefinition(_part" in plan


@pytest.mark.parametrize("qname", ["tok_vocab_encode", "corpus_pipeline"])
def test_encode_queries_have_no_data_bearing_single_partition_window(spark, sf_dir, qname):
    """The vocab-id assignment was the last data-bearing SinglePartition
    exchange reachable from the registry. The encode plans may only sort
    whole relations inside windows partitioned by the range-partition id."""
    from etl_spark.queries import QUERIES

    df = QUERIES[qname][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(w" not in plan
    assert "windowspecdefinition(_part" in plan


# ------------------------------------------------ zero-length chunk docs


def test_chunk_zero_length_docs_emit_no_rows(spark):
    from etl_spark.functions.tokens import chunk_for_training, chunk_for_training_arrow

    df = spark.createDataFrame(
        [("empty", []), ("one", [42])], "doc_id string, tokens array<int>"
    )
    got = chunk_for_training(df, seq_len=8).collect()
    got_arrow = chunk_for_training_arrow(df, seq_len=8).collect()
    assert [r["doc_id"] for r in got] == ["one"]
    assert [r["doc_id"] for r in got_arrow] == ["one"]
