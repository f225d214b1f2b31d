"""Self-tests of the benchmark at a tiny size.

    python3 -m pytest perfbench -q

They run the real command path in-process on a local Spark session.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import feed as FG  # noqa: E402
import measure as M  # noqa: E402
import oracle  # noqa: E402
import run as RUN  # noqa: E402

TINY = {
    "bulk_backfill": {"epochs": 2, "events_per_epoch": 2_000, "n_keys": 3_000, "scans": 2, "lookups": 4, "max_warm": 3},
    "microbatch_tail": {
        "seed_events": 1_500,
        "n_keys": 2_000,
        "cold_files": 1,
        "files_per_pass": 2,
        "max_mor_files": 2,
        "events_per_file": 150,
        "bad_every": 2,
        "scans": 2,
        "lookups": 4,
        "max_warm": 3,
    },
}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[int, dict, str]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = RUN.main(
            ["--workload", workload, "--seed", "5", "--seconds", "0", "--trace", str(trace)],
            sizes=TINY[workload],
        )
    text = out.getvalue()
    return code, json.loads(text.strip().splitlines()[-1]), text


@pytest.mark.parametrize("workload", sorted(TINY))
def test_printed_metrics_match_benchmark_json(workload):
    bench = _bench()
    assert workload in {w["name"] for w in bench["workloads"]}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, res, _ = _run(workload, trace)
        assert code == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in bench[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_bad_debezium_lines_are_counted():
    code, _res, _ = _run("microbatch_tail", 0)
    assert code == 0
    with open(os.path.join(ROOT, ".perfbench", "out", "microbatch_tail-s5-t0.json")) as f:
        fm = json.load(f)["info"]["formats"]
    assert fm["injected"] > 0 and fm["rows_dropped"] == fm["injected"]


def test_gate_catches_corrupted_expected_state(monkeypatch):
    fold = oracle.lww_fold

    def corrupted(events):
        state = fold(events)
        tokens = state.column("tokens").to_pylist()
        tokens[0] = tokens[0][:-1] + [tokens[0][-1] + 1]
        idx = state.schema.get_field_index("tokens")
        return state.set_column(idx, state.schema.field(idx), pa.array(tokens, state.schema.field(idx).type))

    monkeypatch.setattr(oracle, "lww_fold", corrupted)
    code, res, text = _run("bulk_backfill", 0)
    assert code != 0 and not res["correct"] and res["failed"] >= 1
    assert "final state: 1 engine rows not expected, 1 expected rows missing" in text


def test_feed_is_a_function_of_the_seed():
    spec = FG.FeedSpec(n_events=500, n_keys=100, seed=9)
    assert FG.generate(spec).equals(FG.generate(spec))
    assert not FG.generate(spec).equals(FG.generate(FG.FeedSpec(n_events=500, n_keys=100, seed=10)))


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert M.tail(list(range(1, 101))) == (90, "p90 of 100")
    assert M.tail([1.0, 3.0, 2.0]) == (3.0, "max of 3")


def test_stop_children_ends_orphaned_descendants():
    RUN.adopt_orphans()
    # the shell exits at once, orphaning the sleep it started
    out = subprocess.run(["sh", "-c", "sleep 600 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
    pid = int(out.stdout)
    assert os.path.exists(f"/proc/{pid}")
    RUN.stop_children()
    assert not os.path.exists(f"/proc/{pid}")


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_backfill", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0 and '"metrics"' not in out.stdout
