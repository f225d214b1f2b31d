"""CLI smoke tests: gen -> replay -> lineage (round-4 verdict item 8).

The CLI is the spark-submit driver program (cli.py docstring); these tests
drive it in-process (main(argv)) against a tiny synthetic binlog and parse
the JSON lines it prints.
"""

from __future__ import annotations

import json

import pytest

from etl_spark.cli import main


def _run(capsys, argv) -> list[dict]:
    assert main(argv) == 0
    return [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]


def test_cli_gen_replay_lineage(spark, tmp_path, capsys):
    binlog = str(tmp_path / "binlog")
    table = str(tmp_path / "table")
    _run(capsys, ["gen", "--out", binlog, "--events", "2000", "--keys", "300", "--buckets", "3"])
    replay_rows = _run(capsys, ["replay", "--binlog", binlog, "--table", table])
    assert len(replay_rows) == 3 and all(r["applied"] for r in replay_rows)

    lines = _run(capsys, ["lineage", "--table", table])
    *epoch_rows, verdict = lines
    assert len(epoch_rows) == 3
    for row in epoch_rows:
        assert row["lsn_min"] is not None and row["lsn_max"] >= row["lsn_min"]
        assert row["rows_upserted"] + row["rows_deleted"] > 0
    assert verdict["exactly_once_ok"] is True
    assert verdict["epochs"] == 3
    assert verdict["rows_upserted"] == sum(r["rows_upserted"] for r in epoch_rows)

    # per-partition mode emits the raw ledger rows, ordered
    lines = _run(capsys, ["lineage", "--table", table, "--per-partition"])
    *part_rows, verdict2 = lines
    assert verdict2 == verdict
    assert len(part_rows) >= 3
    keys = [(r["checkpoint_epoch"], r["partition_id"]) for r in part_rows]
    assert keys == sorted(keys)
    assert len(set(keys)) == len(keys), "fence keys must be unique"


def test_cli_debezium_gen_and_stream(spark, tmp_path, capsys):
    """gen --format debezium-json writes an envelope-per-line feed the
    stream subcommand replays with --format debezium-json."""
    binlog = str(tmp_path / "dbz")
    table = str(tmp_path / "table")
    out = _run(
        capsys,
        ["gen", "--out", binlog, "--events", "1500", "--keys", "200", "--buckets", "2", "--format", "debezium-json"],
    )
    assert out[0]["format"] == "debezium-json"
    import glob

    txts = glob.glob(f"{binlog}/lsn_bucket=*/part-*")
    assert txts, "expected text part files under lsn_bucket dirs"
    with open(txts[0]) as f:
        first = f.readline()
    assert '"op"' in first and '"source"' in first  # envelope shape on disk

    rows = _run(
        capsys,
        [
            "stream",
            "--binlog", binlog,
            "--table", table,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--format", "debezium-json",
        ],
    )
    assert rows[0]["applied"] >= 1 and rows[0]["rows_upserted"] > 0

    verdict = _run(capsys, ["lineage", "--table", table])[-1]
    assert verdict["exactly_once_ok"] is True


def test_cli_help_states_output_and_stage_contracts(capsys):
    """`lineage --help` documents the line contract (last line = verdict);
    `migrate-layout --help` says an unset --files-per-stage is one stage."""
    for cmd, phrase in (("lineage", "LAST line is always the coverage verdict"), ("migrate-layout", "single stage")):
        with pytest.raises(SystemExit):
            main([cmd, "--help"])
        assert phrase in " ".join(capsys.readouterr().out.split())
