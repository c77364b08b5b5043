"""Per-layer metrics of a traced run.

One timed pass runs with a unique job group per call (``Harness.call``);
this module joins those spans with the event-log attribution
(``eventlog.attribute``) and the workload's own counters into one row of
per-layer numbers. Sums are over the pass's ops; the README's table says
which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import glob
import os

import eventlog

UNITS = {
    "session.start_s": "s",
    "session.import_s": "s",
    "session.fixture_s": "s",
    "session.warmup_s": "s",
    "cache.persisted_rdds": "count",
    "cache.storage_bytes": "bytes",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "driver.self_s": "s",
    "driver.result_bytes": "bytes",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.busy_ratio": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "pyworker.run_s": "s",
    "pyworker.boot_s": "s",
    "pyworker.bytes_sent": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.rows_scanned_per_row_returned": "ratio",
    "sinks.verb_s.delete_mor": "s",
    "sinks.verb_s.stream_upsert": "s",
    "sinks.files_added": "count",
    "sinks.bytes_added": "bytes",
    "sinks.log_bytes_added": "bytes",
    "sinks.rows_written_per_row_changed": "ratio",
    "sinks.jobs_per_commit": "count",
    "sinks.write_amp": "ratio",
    "sinks.space_amp": "ratio",
    "streaming.addBatch_s": "s",
    "streaming.queryPlanning_s": "s",
    "streaming.walCommit_s": "s",
    "streaming.latestOffset_s": "s",
    "trace.overhead_s": "s",
}


def per_layer(h, wl, timed: list[dict]) -> dict[str, float]:
    (log,) = glob.glob(os.path.join(h.eventlog_dir, "*"))
    aliases = {g: s["groups"][1] for s in timed for g in s.get("foreign_groups", ())}
    groups = eventlog.attribute(log, prefix="pb", aliases=aliases)
    out = {k: 0.0 for k in UNITS}
    for k in ("start_s", "import_s", "fixture_s", "warmup_s"):
        out[f"session.{k}"] = h.phase[k]
    n_rdds, n_bytes = h.cache_after_pass[-1]
    out["cache.persisted_rdds"] = n_rdds
    out["cache.storage_bytes"] = n_bytes

    wall = 0.0
    rows_scanned = rows_returned = 0.0
    write_jobs = commits = records_written = 0
    seen_jobs: dict[int, str] = {}
    for s in timed:
        build, run = (groups.get(g, eventlog.GroupStats()) for g in s["groups"])
        for g, st in zip(s["groups"], (build, run)):
            for j in st.jobs:
                if j in seen_jobs:
                    raise AssertionError(f"job {j} under {seen_jobs[j]} and {g}")
                seen_jobs[j] = g
        wall += s["wall_s"]
        out["plans.build_s"] += s.get("build_s", 0.0)
        out["plans.build_jobs"] += len(build.jobs)
        out["catalyst.plan_s"] += s.get("plan_s", 0.0)
        spans = build.job_spans + run.job_spans
        out["driver.self_s"] += max(0.0, s["wall_s"] - eventlog.union_ms(spans) / 1000)
        for st in (build, run):
            m = st.m
            out["catalyst.exchanges"] += st.exchanges
            out["scheduler.jobs"] += len(st.jobs)
            out["scheduler.stages"] += len(st.stages)
            out["scheduler.tasks"] += st.tasks
            out["driver.result_bytes"] += m["result_bytes"]
            out["executor.run_s"] += m["executor_run_ms"] / 1000
            out["executor.cpu_s"] += m["executor_cpu_ns"] / 1e9
            out["executor.gc_s"] += m["gc_ms"] / 1000
            out["shuffle.write_bytes"] += m["shuffle_write_bytes"]
            out["shuffle.read_bytes"] += m["shuffle_read_bytes"]
            out["shuffle.fetch_wait_s"] += m["fetch_wait_ms"] / 1000
            out["shuffle.spill_bytes"] += m["spill_bytes"]
            out["pyworker.run_s"] += m["pyworker_run_ms"] / 1000
            out["pyworker.boot_s"] += m["pyworker_boot_ms"] / 1000
            out["pyworker.bytes_sent"] += m["pyworker_bytes_sent"]
            out["sources.input_bytes"] += m["input_bytes"]
            out["sources.input_rows"] += m["input_rows"]
            if s["kind"] in ("query", "read"):
                rows_scanned += m["input_rows"]
            if s["kind"] == "write":
                records_written += m["records_written"]
        if s["kind"] in ("query", "read"):
            rows_returned += s.get("rows", 0)
        if s["kind"] == "write":
            out[f"sinks.verb_s.{s['op']}"] += s["wall_s"]
            write_jobs += len(build.jobs) + len(run.jobs)
            commits += 1
        files, data, other = s.get("sink_delta", (0, 0, 0))
        out["sinks.files_added"] += files
        out["sinks.bytes_added"] += data
        out["sinks.log_bytes_added"] += other

    out["executor.busy_ratio"] = out["executor.run_s"] / max(wall * h.cores, 1e-9)
    out["sources.rows_scanned_per_row_returned"] = rows_scanned / max(rows_returned, 1)
    extras = wl.layer_extras(timed)
    changed = wl.rows_changed(timed)
    if changed:
        out["sinks.rows_written_per_row_changed"] = records_written / changed
    if commits:
        out["sinks.jobs_per_commit"] = write_jobs / commits
    out.update(extras)
    out["trace.overhead_s"] = h.trace_overhead
    return out
