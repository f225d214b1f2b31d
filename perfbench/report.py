"""Turn a finished run's samples, spans and Spark jobs into named metrics."""

from __future__ import annotations

import measure as M

# name -> unit, for every metric the benchmark can print
END_TO_END = {
    "setup_s": "s",
    "cold_ingest_s": "s",
    "events_per_s": "events/s",
    "epoch_p50_s": "s",
    "epoch_tail_s": "s",
    "scan_s": "s",
    "lookup_p50_ms": "ms",
    "lookup_tail_ms": "ms",
    "written_bytes_per_event": "B/event",
    "stored_bytes_per_live_row": "B/row",
    "peak_rss_mb": "MB",
}


def end_to_end(run) -> tuple[dict[str, float], dict[str, str]]:
    """Metric values, and the percentile label of each tail metric."""
    s = run.stats.samples
    epoch_tail, epoch_label = M.tail(s.get("epoch_s", []))
    lookup_tail, lookup_label = M.tail(s.get("lookup_ms", []))
    values = {
        "setup_s": M.median(s["setup_s"]),
        "cold_ingest_s": s["cold_ingest_s"][0],
        "events_per_s": M.median(s.get("events_per_s", [])),
        "epoch_p50_s": M.median(s.get("epoch_s", [])),
        "epoch_tail_s": epoch_tail,
        "scan_s": M.median(s.get("scan_s", [])),
        "lookup_p50_ms": M.median(s.get("lookup_ms", [])),
        "lookup_tail_ms": lookup_tail,
        "written_bytes_per_event": M.median(s.get("written_bytes_per_event", [])),
        "stored_bytes_per_live_row": run.info.get("stored_bytes_per_live_row", 0.0),
        "peak_rss_mb": s["peak_rss_mb"][-1],
    }
    return values, {"epoch_tail_s": epoch_label, "lookup_tail_ms": lookup_label}


def _per(items: list, fn) -> float:
    return M.median([fn(x) for x in items])


def per_layer(run) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of a traced run, as (value, unit)."""
    tr, jobs, s, info = run.tracer, run.jobs, run.stats.samples, run.info
    traced_passes = max(len(s.get("traced_pass_s", [])), 1)
    merges = tr.named("merge.call")
    mjobs = [M.jobs_in(jobs, sp) for sp in merges]
    calls = list(zip(merges, mjobs))

    def dur(sp):
        return sp["end"] - sp["start"]

    def child_s(sp, name):
        return sum(dur(c) for c in tr.children(sp, name))

    dedups = tr.named("dedup.exec")
    scans = [M.jobs_in(jobs, sp) for sp in tr.named("table.scan")]
    lookups = [M.jobs_in(jobs, sp) for sp in tr.named("table.lookup")]
    compactions = tr.named("maint.compact")
    cjobs = [j for sp in compactions for j in M.jobs_in(jobs, sp)]
    progress = run.progress_records
    fm = info.get("formats", {})

    def dms(key):
        return [p["durationMs"].get(key, 0) / 1000.0 for p in progress]

    out = {
        "session.start_s": (M.median(s["session.start_s"]), "s"),
        "dedup.exec_s": (_per(dedups, dur), "s"),
        "dedup.keep_ratio": (_per(dedups, lambda sp: sp["keep_ratio"]), "ratio"),
        "merge.call_s": (_per(merges, dur), "s"),
        "merge.driver_s": (_per(calls, lambda c: dur(c[0]) - M.covered_s(c[1], c[0])), "s"),
        "merge.jobs_s": (_per(calls, lambda c: M.covered_s(c[1], c[0])), "s"),
        "merge.jobs_per_epoch": (_per(mjobs, len), "count"),
        "merge.tasks_per_epoch": (_per(mjobs, lambda js: M.job_sum(js, "tasks")), "count"),
        "merge.exec_cpu_s": (_per(mjobs, lambda js: M.job_sum(js, "cpu_s")), "s"),
        "merge.gc_s": (_per(mjobs, lambda js: M.job_sum(js, "gc_s")), "s"),
        "merge.shuffle_read_bytes": (_per(mjobs, lambda js: M.job_sum(js, "shuffle_read_bytes")), "B"),
        "merge.shuffle_write_bytes": (_per(mjobs, lambda js: M.job_sum(js, "shuffle_write_bytes")), "B"),
        "merge.spill_bytes": (_per(mjobs, lambda js: M.job_sum(js, "spill_bytes")), "B"),
        "merge.input_bytes": (_per(mjobs, lambda js: M.job_sum(js, "input_bytes")), "B"),
        "merge.mor_frac": (
            sum(sp.get("mode") == "mor" for sp in merges) / max(len(merges), 1),
            "ratio",
        ),
        "merge.files_rewritten": (_per(merges, lambda sp: sp.get("files_rewritten", 0)), "count"),
        "merge.files_added": (_per(merges, lambda sp: sp.get("files_added", 0)), "count"),
        "table.commit_s": (_per(merges, lambda sp: child_s(sp, "table.commit")), "s"),
        "table.load_files_s": (_per(merges, lambda sp: child_s(sp, "table.load_files")), "s"),
        "table.live_files": (info["live_files"], "count"),
        "table.mor_files": (info["mor_files"], "count"),
        "table.manifest_bytes": (info["manifest_bytes"], "B"),
        "table.scan_input_bytes": (_per(scans, lambda js: M.job_sum(js, "input_bytes")), "B"),
        "table.scan_shuffle_bytes": (_per(scans, lambda js: M.job_sum(js, "shuffle_read_bytes")), "B"),
        "table.lookup_input_bytes": (_per(lookups, lambda js: M.job_sum(js, "input_bytes")), "B"),
        "table.bytes_written": (
            (sum(M.job_sum(js, "output_bytes") for js in mjobs) + M.job_sum(cjobs, "output_bytes"))
            / traced_passes,
            "B",
        ),
        "maint.compactions": (len(compactions) / traced_passes, "count"),
        "maint.compact_s": (_per(compactions, dur), "s"),
        "maint.bytes_rewritten": (M.job_sum(cjobs, "output_bytes") / traced_passes, "B"),
        "tail.trigger_s": (M.median(dms("triggerExecution")), "s"),
        "tail.add_batch_s": (M.median(dms("addBatch")), "s"),
        "tail.source_s": (
            M.median(
                [
                    sum(p["durationMs"].get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit"))
                    / 1000.0
                    for p in progress
                ]
            ),
            "s",
        ),
        "tail.batches": (len(progress) / traced_passes, "count"),
        "tail.input_rows": (sum(p["numInputRows"] for p in progress) / traced_passes, "count"),
        "formats.lines_in": (fm.get("lines_in", 0), "count"),
        "formats.rows_out": (fm.get("rows_out", 0), "count"),
        "formats.rows_dropped": (fm.get("rows_dropped", 0), "count"),
        "trace.overhead_s": (M.median(s["traced_pass_s"]) - M.median(s["warm_pass_s"]), "s"),
    }
    return out
