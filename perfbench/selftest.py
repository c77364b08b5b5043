"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py [eventlog guard wrong_digest determinism bare]

- ``eventlog``: the attribution reader on a query with exactly one
  shuffle: two stages, shuffle bytes > 0, one Exchange, and no job
  under two calls; a ``foreachBatch`` stream's jobs, which Spark runs
  under the query's runId, land under the call that started it.
- ``guard``: every timed registry query keeps each of its output
  columns in the optimized plan of the ``noop`` write the benchmark
  times; ``count()``, as a negative control, loses q01's aggregates.
- ``wrong_digest``: a deliberately wrong expected digest shows up in
  ``failed`` and ``fail_ratio``; the run still exits 0.
- ``determinism``: two traced runs with one seed reproduce the
  attribution counts exactly; another seed changes the slices and probe
  keys but not the op list.
- ``bare``: in a directory holding only the benchmark, the command
  exits non-zero without printing a result.

Exits 1 if any selected test fails.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
sys.path[:0] = [ROOT, HERE]

# exact counts, and write_amp, whose commit-log bytes include wall-clock
# times and so may differ by a few bytes: it must agree to 0.1%
DETERMINISTIC = {
    "scheduler.jobs": 0.0,
    "catalyst.exchanges": 0.0,
    "sinks.files_added": 0.0,
    "sinks.rows_written_per_row_changed": 0.0,
    "sinks.write_amp": 1e-3,
}


def _session(name: str, extra: dict):
    import run

    run._isolate(os.path.join(WORK, name))
    from data_pipeline_demo_spark.session import get_spark

    log_dir = os.path.join(WORK, name, "eventlog")
    os.makedirs(log_dir)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        **extra,
    }
    return get_spark("perfbench-selftest", extra_confs=confs), log_dir


def _stop(spark) -> None:
    import run

    run.stop_spark(spark)


def test_eventlog() -> list[str]:
    import eventlog
    from pyspark.sql import functions as F

    spark, log_dir = _session("eventlog", {})
    sc = spark.sparkContext
    land = os.path.join(WORK, "eventlog", "land")

    def batch(df, _):
        df.groupBy((F.col("id") % 3).alias("k")).count().write.format(
            "noop"
        ).mode("overwrite").save()

    try:
        spark.range(0, 100, 1, 1).write.parquet(land)
        sc.setJobGroup("pbA:one_shuffle:run", "one shuffle")
        (
            spark.range(0, 20_000, 1, 4)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id").alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        sc.setJobGroup("pbB:scan_only:run", "no shuffle")
        spark.range(0, 1000, 1, 2).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("pbC:stream:run", "foreachBatch stream")
        q = (
            spark.readStream.schema("id long")
            .parquet(land)
            .writeStream.foreachBatch(batch)
            .option("checkpointLocation", land + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        run_id = str(q.runId)
    finally:
        _stop(spark)
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    groups = eventlog.attribute(log, prefix="pb", aliases={run_id: "pbC:stream:run"})
    a, b = groups["pbA:one_shuffle:run"], groups["pbB:scan_only:run"]
    c = groups.get("pbC:stream:run", eventlog.GroupStats())
    errs = []
    if c.m["shuffle_write_bytes"] <= 0:
        errs.append(f"foreachBatch jobs not under the calling op: {len(c.jobs)} jobs, {dict(c.m)}")
    raw = eventlog.attribute(log)  # every group, none renamed
    if raw.get(run_id, eventlog.GroupStats()).jobs != c.jobs or (a.jobs | b.jobs) & c.jobs:
        errs.append("the stream's jobs are not exactly the calling op's")
    if len(a.stages) != 2:
        errs.append(f"one-shuffle query ran {len(a.stages)} stages, want 2")
    if a.m["shuffle_write_bytes"] <= 0 or a.m["shuffle_read_bytes"] <= 0:
        errs.append(f"shuffle bytes not attributed: {dict(a.m)}")
    if a.exchanges != 1:
        errs.append(f"one-shuffle query shows {a.exchanges} exchanges, want 1")
    if a.jobs & b.jobs:
        errs.append(f"jobs {a.jobs & b.jobs} attributed to two calls")
    if b.exchanges != 0 or len(b.stages) != 1:
        errs.append(f"scan-only call: {b.exchanges} exchanges, {len(b.stages)} stages")
    return errs


def _optimized_sections(log: str) -> dict[str, str]:
    """Optimized logical plan text of each SQL execution, by job group."""
    out = {}
    exec_group = {}
    plans = {}
    with open(log, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex, g = props.get("spark.sql.execution.id"), props.get("spark.jobGroup.id")
                if ex is not None and g is not None:
                    exec_group.setdefault(int(ex), g)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if ev.get("jobGroupId"):
                    exec_group.setdefault(ev["executionId"], ev["jobGroupId"])
                plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    for ex, g in exec_group.items():
        text = plans.get(ex, "")
        m = re.search(r"== Optimized Logical Plan ==\n(.*?)\n== Physical Plan ==", text, re.S)
        if m:
            out[g] = out.get(g, "") + m.group(1)
    return out


def test_guard() -> list[str]:
    import checks
    import workloads

    sf = checks.DATA_DIR
    spark, log_dir = _session(
        "guard",
        {"spark.sql.ui.explainMode": "extended", "spark.sql.debug.maxToStringFields": "1000"},
    )
    from data_pipeline_demo_spark.plans import all_queries

    queries, _ = all_queries()
    names = workloads.EtlRelational.QUERIES
    sc = spark.sparkContext
    cols = {}
    try:
        for q in names:
            df = queries[q](spark, sf)
            cols[q] = df.columns
            sc.setJobGroup(f"noop:{q}", q)
            df.write.format("noop").mode("overwrite").save()
        sc.setJobGroup("count:q01", "q01 count")
        queries["q01_pricing_summary"](spark, sf).count()
    finally:
        _stop(spark)
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    plans = _optimized_sections(log)

    def missing(group: str, columns: list[str]) -> list[str]:
        text = plans.get(group, "")
        return [c for c in columns if not re.search(rf"\b{re.escape(c)}#\d+", text)]

    errs = []
    for q in names:
        lost = missing(f"noop:{q}", cols[q])
        if lost:
            errs.append(f"{q}: timed action drops output columns {lost}")
    lost = missing("count:q01", cols["q01_pricing_summary"])
    if not any(c.startswith(("sum_", "avg_")) for c in lost):
        errs.append(f"negative control: count() kept every q01 column (lost {lost})")
    return errs


def _bench(workload: str, seed: int, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py") if cwd == ROOT else "perfbench/run.py",
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), *extra,
    ]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def test_wrong_digest() -> list[str]:
    code, lines, err = _bench("etl_relational", 1, 0, "--wrong-digest", "q01")
    if code != 0 or len(lines) < 2:
        return [f"run crashed (exit {code}): {err[-500:]}"]
    detail, last = json.loads(lines[-2]), json.loads(lines[-1])
    errs = []
    if last["failed"] < 1 or last["correct"]:
        errs.append(f"wrong digest not counted: {last}")
    if detail["metrics"]["fail_ratio"]["value"] <= 0:
        errs.append("fail_ratio stayed 0")
    if not any("q01" in f for f in detail["failures"]):
        errs.append(f"failure not attributed to q01: {detail['failures']}")
    return errs


def test_determinism() -> list[str]:
    errs = []
    for wl in ("lakehouse_rw", "etl_relational"):
        runs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            code, lines, err = _bench(wl, seed, 1)
            if code != 0 or len(lines) < 2:
                return [f"{wl} seed {seed} crashed (exit {code}): {err[-500:]}"]
            runs[tag] = json.loads(lines[-2])
        a, b, c = runs["a"], runs["b"], runs["c"]
        for k, tol in DETERMINISTIC.items():
            x, y = a["per_layer"][k], b["per_layer"][k]
            if abs(x - y) > tol * max(abs(x), abs(y)):
                errs.append(f"{wl}: {k} {x} != {y}")
        if a["inputs"] != b["inputs"]:
            errs.append(f"{wl}: same seed, different inputs")
        if sorted(a["ops"]) != sorted(c["ops"]):
            errs.append(f"{wl}: op list changed with the seed")
        if wl == "lakehouse_rw" and a["inputs"]["sha256"] == c["inputs"]["sha256"]:
            errs.append(f"{wl}: another seed kept the same slices and probe keys")
        print(f"  {wl}: " + ", ".join(f"{k}={a['per_layer'][k]}" for k in DETERMINISTIC), flush=True)
    return errs


def test_bare() -> list[str]:
    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines, _ = _bench("etl_relational", 1, 0, cwd=bare)
    errs = []
    if code == 0:
        errs.append("exit code 0 without the engine")
    if any(line.startswith("{") for line in lines):
        errs.append("printed a result without the engine")
    return errs


TESTS = {
    "eventlog": test_eventlog,
    "guard": test_guard,
    "wrong_digest": test_wrong_digest,
    "determinism": test_determinism,
    "bare": test_bare,
}


def main(argv: list[str]) -> int:
    names = argv or list(TESTS)
    failed = 0
    try:
        for name in names:
            errs = TESTS[name]()
            print(("PASS " if not errs else "FAIL ") + name, flush=True)
            for e in errs:
                print("     " + e)
            failed += bool(errs)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
