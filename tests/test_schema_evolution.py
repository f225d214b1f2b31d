"""Schema evolution through the table layer (FIXTURES.md §3): add + widen
mid-replay, old snapshots stay readable, token dtype must NOT silently widen."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from etl_spark.datagen import BinlogSpec, generate_binlog
from etl_spark.operators.merge import merge_batch
from etl_spark.oracle import assert_state_equal, replay_oracle
from etl_spark.schema import TARGET_SCHEMA
from etl_spark.table import LakeTable, TableCommitError

V1 = BinlogSpec(n_events=2000, n_keys=200, seed=31)
V2 = BinlogSpec(n_events=2000, n_keys=200, seed=32, include_lang=True, lsn_offset=100_000)


@pytest.fixture(scope="module")
def feeds(spark):
    f1 = generate_binlog(spark, V1).drop("delivery_pos", "lsn_bucket").cache()
    f2 = generate_binlog(spark, V2).drop("delivery_pos", "lsn_bucket").cache()
    f1.count(), f2.count()
    return f1, f2


def _evolved_replay(spark, root, feeds):
    f1, f2 = feeds
    table = LakeTable.create_if_absent(spark, root, TARGET_SCHEMA)
    merge_batch(table, f1, epoch=0)
    table.update_schema(add_columns=[("lang", "string")], widen={"n_tok": "bigint"})
    merge_batch(table, f2, epoch=1)
    return table


def test_evolved_replay_matches_oracle(spark, tmp_table_dir, feeds):
    f1, f2 = feeds
    table = _evolved_replay(spark, tmp_table_dir, feeds)

    p1 = f1.toPandas().assign(lang=None)
    p2 = f2.toPandas()
    expected = replay_oracle(pd.concat([p1, p2], ignore_index=True), payload_cols=["tokens", "n_tok", "source", "lang"])

    got = table.read(include_hidden=True).toPandas()
    assert_state_equal(got, expected)
    # token element dtype must stay int32 (FIXTURES.md §3: no silent widen)
    elem = dict(table.read().dtypes)["tokens"]
    assert elem == "array<int>", f"tokens widened to {elem}"
    assert dict(table.read().dtypes)["n_tok"] == "bigint"


def test_pre_evolution_snapshot_still_readable(spark, tmp_table_dir, feeds):
    table = _evolved_replay(spark, tmp_table_dir, feeds)
    # snapshot 1 = after first merge, before evolution: v1 schema, no lang
    old = table.read(sid=1)
    assert "lang" not in old.columns
    assert dict(old.dtypes)["n_tok"] == "int"
    assert old.count() > 0


def test_schema_version_increments(spark, tmp_table_dir, feeds):
    table = _evolved_replay(spark, tmp_table_dir, feeds)
    versions = [s["schema_version"] for s in table.snapshots()]
    assert versions[0] == 0 and versions[-1] == 1


def test_duplicate_add_rejected(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    with pytest.raises(TableCommitError, match="already exists"):
        table.update_schema(add_columns=[("source", "string")])


def test_narrowing_rejected(spark, tmp_table_dir):
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    table.update_schema(widen={"n_tok": "bigint"})
    with pytest.raises(TableCommitError, match="illegal widen"):
        table.update_schema(widen={"n_tok": "int"})


def test_entry_with_unknown_schema_version_raises(spark, tmp_table_dir):
    """Every writer tags its entries with a schema_version some snapshot
    carries, so an entry naming another one comes from a corrupt manifest:
    reading it raises ValueError naming the entry and its version instead
    of guessing its columns."""
    import json
    import re

    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    batch = spark.createDataFrame(
        [(f"d{i}", i, 0, "U", [1, 2], 2, "s") for i in range(4)],
        "doc_id string, commit_lsn long, op_seq int, op string, tokens array<int>, n_tok int, source string",
    )
    merge_batch(table, batch, epoch=0)
    cpath = table._commit_path(table.head_id())
    with open(cpath) as f:
        rec = json.load(f)
    rec["files"][0]["schema_version"] = 99
    with open(cpath, "w") as f:
        json.dump(rec, f)

    t2 = LakeTable(spark, tmp_table_dir)  # fresh handle: no cached snapshot
    with pytest.raises(ValueError, match=re.escape(f"{rec['files'][0]['path']} has schema_version 99")):
        t2.read()


def _mor_feed(rng, lsns, n_keys, cols):
    """One change event per lsn on a random key: ~10% deletes (null
    payload); keys repeat, so lsns drawn out of order across epochs make
    stale and duplicate arrivals."""
    events = []
    for lsn in map(int, lsns):
        op = "D" if rng.random() < 0.1 else "U"
        payload = {
            "tokens": [lsn % 7, lsn % 11],
            "n_tok": 2,
            "source": f"s{lsn % 3}",
            "origin": f"s{lsn % 3}",
            "lang": f"l{lsn % 2}",
            "value_cents": lsn * 10,
        }
        events.append(
            {"doc_id": f"k{rng.integers(n_keys):03d}", "commit_lsn": lsn, "op_seq": 0, "op": op}
            | {c: payload[c] if op == "U" else None for c in cols}
        )
    return events


def test_mor_epochs_across_schemas_and_evolution_match_fold(spark, tmp_path):
    """The merge builds its plan fragments once per (schema, layout) and
    reuses them across epochs and tables — a stale fragment would
    resolve or write one schema's columns under another's. Two tables with
    different payload schemas take interleaved forced-MoR epochs in one
    session; one of them evolves mid-replay (add + widen, then a rename).
    Every final state equals the LWW fold of its feed."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    other_schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value_cents", LongType(), True),
            StructField("source", StringType(), True),
        ]
    )
    evolving = LakeTable.create_if_absent(spark, str(tmp_path / "evolving"), TARGET_SCHEMA)
    other = LakeTable.create_if_absent(spark, str(tmp_path / "other"), other_schema)
    types = {
        "tokens": "array<int>",
        "n_tok": "int",
        "source": "string",
        "origin": "string",
        "lang": "string",
        "value_cents": "bigint",
    }
    feeds: dict[str, list[dict]] = {"evolving": [], "other": []}

    def run(table, name, epoch, events, cols, mode):
        feeds[name] += events
        ddl = ", ".join(["doc_id string, commit_lsn bigint, op_seq int, op string"] + [f"{c} {types[c]}" for c in cols])
        rows = [tuple(ev[c] for c in ["doc_id", "commit_lsn", "op_seq", "op", *cols]) for ev in events]
        res = merge_batch(table, spark.createDataFrame(rows, ddl), epoch=epoch, merge_mode=mode)
        assert res.applied and res.mode == mode, (name, epoch, res.mode)

    n_keys, per_epoch, n_epochs = 60, 12, 9
    seed = [{"doc_id": f"k{i:03d}", "commit_lsn": i + 1, "op_seq": 0, "op": "U"} for i in range(n_keys)]
    run(evolving, "evolving", 0, [ev | {"tokens": [1], "n_tok": 1, "source": "seed"} for ev in seed],
        ["tokens", "n_tok", "source"], "cow")
    run(other, "other", 0, [ev | {"value_cents": 1, "source": "seed"} for ev in seed], ["value_cents", "source"], "cow")
    # the tail's lsns are a permutation spread over the epochs: events
    # arrive out of order ACROSS epochs, so some lose to stored versions
    rng = np.random.default_rng(7)
    lsns = rng.permutation(np.arange(1_000, 1_000 + per_epoch * n_epochs)).reshape(n_epochs, per_epoch)
    cols = ["tokens", "n_tok", "source"]
    for e in range(n_epochs):
        if e == 3:
            evolving.update_schema(add_columns=[("lang", "string")], widen={"n_tok": "bigint"})
            types["n_tok"] = "bigint"
            cols = ["tokens", "n_tok", "source", "lang"]
        if e == 6:
            evolving.rename_column("source", "origin")
            cols = ["tokens", "n_tok", "origin", "lang"]
        run(evolving, "evolving", e + 1, _mor_feed(rng, lsns[e], n_keys, cols), cols, "mor")
        run(other, "other", e + 1, _mor_feed(rng, lsns[e], n_keys, ["value_cents", "source"]),
            ["value_cents", "source"], "mor")

    final = ["tokens", "n_tok", "origin", "lang"]
    evolved = pd.DataFrame(
        [{**ev, "origin": ev.get("origin", ev.get("source")), "lang": ev.get("lang")} for ev in feeds["evolving"]]
    ).astype({"lang": object})
    expected = replay_oracle(evolved, payload_cols=final)
    expected["lang"] = [v if isinstance(v, str) else None for v in expected["lang"]]
    assert_state_equal(evolving.read(include_hidden=True).toPandas(), expected)
    assert dict(evolving.read().dtypes)["n_tok"] == "bigint"

    expected = replay_oracle(pd.DataFrame(feeds["other"]), payload_cols=["value_cents", "source"])
    assert_state_equal(other.read(include_hidden=True).toPandas(), expected)


# ------------------------------------ racing schema evolutions


def test_racing_schema_evolutions_cannot_clobber(spark, tmp_table_dir, monkeypatch):
    """Two evolves planned against the same base: the loser must REFUSE
    (its new schema was computed without the winner's change), not silently
    drop the winner's column."""
    table = LakeTable.create_if_absent(spark, tmp_table_dir, TARGET_SCHEMA)
    orig_commit = LakeTable.commit
    state = {"injected": False}

    def racy_commit(self, *a, **kw):
        if not state["injected"] and kw.get("new_schema") is not None:
            state["injected"] = True
            LakeTable(spark, tmp_table_dir).update_schema(add_columns=[("winner_col", "bigint")])
        return orig_commit(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit", racy_commit)
    with pytest.raises(TableCommitError):
        table.update_schema(add_columns=[("loser_col", "bigint")])
    monkeypatch.undo()
    t2 = LakeTable(spark, tmp_table_dir)
    names = [f.name for f in t2.schema().fields]
    assert "winner_col" in names and "loser_col" not in names
    # retry against the new head lands both
    t2.update_schema(add_columns=[("loser_col", "bigint")])
    names = [f.name for f in t2.schema().fields]
    assert "winner_col" in names and "loser_col" in names
