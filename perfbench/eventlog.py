"""Attribute a Spark event log to the benchmark's per-call job groups.

Every traced call runs under its own job group id. Spark copies the
caller's local properties, the group id among them, onto each job and
stage it submits, so a stage's ``StageSubmitted`` properties name the
call that caused it, and every ``TaskEnd`` of that stage is summed into
the call. SQL executions are tied to a group through the jobs they run
(``spark.sql.execution.id``) and through the group id Spark records on
the execution itself; their last adaptive plan gives the Exchange
count.

A streaming query runs its micro-batches (``foreachBatch`` sinks
included) on its own thread, under a job group named after its
``runId``, not under the group of the call that started it.
``aliases`` maps such a group to the call's group.

Usage: ``attribute(path, prefix, aliases)`` returns
``{group_id: GroupStats}``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_EXCHANGES = ("Exchange", "BroadcastExchange", "ShuffleExchange")

# SQL metrics that Python-evaluating operators publish as accumulators
PYWORKER_ACCUMS = {
    "time to run Python workers": "pyworker_run_ms",
    "time to start Python workers": "pyworker_boot_ms",
    "time to initialize Python workers": "pyworker_boot_ms",
    "data sent to Python workers": "pyworker_bytes_sent",
}


@dataclass
class GroupStats:
    jobs: set = field(default_factory=set)
    job_spans: list = field(default_factory=list)  # [(start_ms, end_ms)]
    stages: set = field(default_factory=set)
    tasks: int = 0
    exchanges: int = 0
    m: dict = field(default_factory=lambda: defaultdict(float))


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") in _EXCHANGES else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", ()))


def _task_metrics(tm: dict, acc: list, out: dict) -> None:
    out["executor_run_ms"] += tm.get("Executor Run Time", 0)
    out["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
    out["gc_ms"] += tm.get("JVM GC Time", 0)
    out["result_bytes"] += tm.get("Result Size", 0)
    out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
        "Disk Bytes Spilled", 0
    )
    sr = tm.get("Shuffle Read Metrics", {})
    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    out["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    out["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    inp = tm.get("Input Metrics", {})
    out["input_bytes"] += inp.get("Bytes Read", 0)
    out["input_rows"] += inp.get("Records Read", 0)
    out["records_written"] += tm.get("Output Metrics", {}).get("Records Written", 0)
    for a in acc:
        key = PYWORKER_ACCUMS.get(a.get("Name"))
        if key is not None:
            try:
                out[key] += float(a.get("Update", 0))
            except (TypeError, ValueError):
                pass


def attribute(
    path: str, prefix: str = "", aliases: dict[str, str] | None = None
) -> dict[str, GroupStats]:
    """Per-group totals for every job group starting with ``prefix``,
    after renaming the groups in ``aliases``."""
    aliases = aliases or {}

    def owner(g):
        g = aliases.get(g, g)
        return g if g is not None and g.startswith(prefix) else None

    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = owner(props.get("spark.jobGroup.id"))
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev.get("Submission Time", 0)
                groups[g].jobs.add(jid)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]].job_spans.append(
                        (job_start[jid], ev.get("Completion Time", job_start[jid]))
                    )
            elif kind == "SparkListenerStageSubmitted":
                g = owner((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                if g is not None:
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = g
                    groups[g].stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is not None:
                    st = groups[g]
                    st.tasks += 1
                    _task_metrics(
                        ev.get("Task Metrics") or {},
                        (ev.get("Task Info") or {}).get("Accumulables") or [],
                        st.m,
                    )
            elif kind == _SQL_START:
                g = owner(ev.get("jobGroupId"))
                if g is not None:
                    exec_group.setdefault(ev["executionId"], g)
                exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
            elif kind == _SQL_AQE:
                exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    for ex, g in exec_group.items():
        groups[g].exchanges += _count_exchanges(exec_plan.get(ex, {}))
    return dict(groups)


def union_ms(spans: list) -> float:
    """Length of the union of [start, end] intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
