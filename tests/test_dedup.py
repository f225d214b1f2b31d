"""LWW dedup: both physical strategies agree with the pandas oracle
(SURVEY.md §5 item 2)."""

from __future__ import annotations

import pandas as pd
import pytest

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.dedup import lww_dedup, lww_dedup_salted

SPEC = BinlogSpec(n_events=4000, n_keys=300, seed=7, skew=2.5)


def _oracle_winners(pdf: pd.DataFrame) -> pd.DataFrame:
    ev = pdf.sort_values(["commit_lsn", "op_seq"], kind="mergesort")
    last = ev.groupby("doc_id", sort=True).tail(1)
    return last.sort_values("doc_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def feed(spark):
    df = generate_binlog(spark, SPEC).drop("delivery_pos", "lsn_bucket")
    df.cache().count()
    return df


@pytest.mark.parametrize("strategy", [lww_dedup, lww_dedup_salted])
def test_dedup_matches_oracle(spark, feed, strategy):
    got = strategy(feed).toPandas().sort_values("doc_id").reset_index(drop=True)
    exp = _oracle_winners(feed.toPandas())
    assert len(got) == len(exp) == exp["doc_id"].nunique()
    for col in ["doc_id", "commit_lsn", "op_seq", "op", "n_tok", "source"]:
        ga, ea = got[col], exp[col]
        same = (ga == ea) | (ga.isna() & ea.isna())
        assert bool(same.all()), f"column {col} mismatch for {strategy.__name__}"
    for a, b in zip(got["tokens"], exp["tokens"]):
        assert (a is None and b is None) or list(a) == list(b)


def test_dedup_is_deterministic_across_partitionings(spark, feed):
    a = lww_dedup(feed.repartition(3)).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = lww_dedup(feed.repartition(17)).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(a["commit_lsn"]) == list(b["commit_lsn"])
    assert list(a["op_seq"]) == list(b["op_seq"])


def test_datagen_deterministic(spark):
    s = BinlogSpec(n_events=500, n_keys=50, seed=11)
    a = generate_binlog(spark, s).orderBy("commit_lsn", "op_seq", "delivery_pos").toPandas()
    b = generate_binlog(spark, s).orderBy("commit_lsn", "op_seq", "delivery_pos").toPandas()
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert [list(t) if t is not None else None for t in a["tokens"]] == [
        list(t) if t is not None else None for t in b["tokens"]
    ]


def test_datagen_exercises_all_cases(spark, feed):
    pdf = feed.toPandas()
    assert (pdf["op"] == "D").any(), "no tombstones generated"
    dup = pdf.duplicated(subset=["commit_lsn", "op_seq"]).sum()
    assert dup > 0, "no duplicate deliveries"
    ties = pdf.groupby("commit_lsn")["op_seq"].nunique()
    assert (ties > 1).any(), "no equal-lsn ties"
    hot = pdf["doc_id"].value_counts()
    assert hot.iloc[0] > 5 * hot.mean(), "no hot-key skew"
