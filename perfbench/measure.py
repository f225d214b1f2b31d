"""Measurement from outside the engine: spans around public calls, Spark's
event log, Structured Streaming progress, process memory and file sizes.

Nothing here is imported by the engine. Wrappers are installed only for a
traced pass, on the attribute the caller resolves at call time, and removed
afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. Below 40 samples that percentile would sit under p75, too close
    to the median to be a tail, so the maximum is reported instead and
    labelled as such."""
    if not xs:
        return 0.0, "none"
    s = sorted(xs)
    n = len(s)
    if n < 40:
        return s[-1], f"max of {n}"
    rank = n - 10  # ten samples lie strictly above this nearest-rank position
    return s[rank - 1], f"p{100 * rank // n} of {n}"


def vm_hwm_kb(pid: int | str = "self") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the driver JVM."""
    pid = jvm_pid()
    kb = vm_hwm_kb() + (vm_hwm_kb(pid) if pid else 0)
    return kb / 1024.0


def data_files(root: str) -> dict[str, int]:
    """Every parquet file under a table root, with its size in bytes."""
    out = {}
    for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True):
        out[p] = os.path.getsize(p)
    return out


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls into
    the engine's public functions."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(span,
        result)`` records fields of the result on the span."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as sp:
                res = orig(*args, **kwargs)
                if after is not None:
                    after(sp, res)
                return res

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, parent: dict, name: str) -> list[dict]:
        idx = self.spans.index(parent)
        return [s for s in self.spans if s["parent"] == idx and s["name"] == name]


class StreamProgress:
    """Collects Structured Streaming's per-trigger progress records."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.records = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                records.append({"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


# --------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    """The events of the newest application log in ``log_dir``. Call after
    the session has stopped, when the log is complete."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not logs:
        return []
    newest = max(logs, key=os.path.getmtime)
    with open(newest) as f:
        return [json.loads(line) for line in f if line.strip()]


def spark_jobs(events: list[dict]) -> list[dict]:
    """One record per finished Spark job: wall interval (seconds since the
    epoch) and the summed metrics of its tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "tasks": 0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "input_bytes": 0,
                "output_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            sr = m.get("Shuffle Read Metrics", {})
            job["tasks"] += 1
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            job["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def jobs_in(jobs: list[dict], span: dict) -> list[dict]:
    """Jobs submitted inside a span's interval (event-log times have
    millisecond resolution)."""
    lo, hi = span["start"] - 0.001, span["end"] + 0.001
    return [j for j in jobs if lo <= j["start"] <= hi]


def covered_s(jobs: list[dict], span: dict) -> float:
    """Seconds of the span covered by at least one of the jobs."""
    iv = sorted((max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_sum(jobs: list[dict], key: str) -> float:
    return sum(j[key] for j in jobs)
