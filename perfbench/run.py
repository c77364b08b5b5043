"""Engine benchmark: one workload per run, closed loop, one client.

Run from the repository root:

    python3 perfbench/run.py --workload etl_relational --seed 1 \
        --seconds 4 --trace 0

The run reads its input tables from ``perfbench/data``, starts a local
Spark session through the engine's ``session.get_spark``, builds the
workload's fixtures, runs one untimed warm-up pass (which also collects
the results the output checks compare), then times whole passes until
``--seconds`` have elapsed (at least one). Every timed query is
materialized with the ``noop`` sink. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it carries every metric of the workload, with tail
percentiles and their sample counts.

``--trace 1`` runs the same workload with the event log on and a
unique job group around every call into the engine, and reports the
per-layer metrics of one timed pass instead (see README.md).

Everything the run writes lives under ``.perfbench_work/`` in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_PROC = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "data_pipeline_demo_spark"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "trigger_p50_s": "s",
    "trigger_tail_s": "s",
    "rows_per_s": "1/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
}
# the end-to-end metrics every workload reports on its last line
E2E_REPORTED = ("setup_s", "pass_s")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--wrong-digest",
        default="",
        help="comma-separated ops whose expected output is deliberately "
        "corrupted (self-test of the output check)",
    )
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark, Python and the engine write inside ``work``."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    nproc = os.cpu_count() or 1
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(nproc, int(want)) if want.isdigit() and int(want) > 0 else min(nproc, 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    import tempfile

    tempfile.tempdir = None


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Harness:
    """Session, spans and pass loop shared by every workload."""

    def __init__(self, args, work: str):
        import checks

        self.trace = bool(args.trace)
        self.work = work
        self.sf_dir = checks.DATA_DIR
        self.failures: list[str] = []
        self.attempted = 0
        self.phase = {}
        self.trace_overhead = 0.0
        self.cache_after_pass: list[tuple[int, int]] = []
        self._seq = 0

    # -- session -------------------------------------------------------
    def start(self):
        from data_pipeline_demo_spark.session import get_spark

        t = time.perf_counter()
        confs = {
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.environ["TMPDIR"],
        }
        if self.trace:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark("perfbench", extra_confs=confs)
        self.sc = self.spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.phase["start_s"] = time.perf_counter() - t

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        jvm = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
        return _vm_hwm_mb("self") + jvm

    # -- spans ---------------------------------------------------------
    def _group(self, op: str, phase: str) -> str:
        return f"pb{self._seq}:{op}:{phase}"

    def _set_group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, gid)

    def call(self, op, ctx, timed: bool, pass_no: int) -> dict:
        """Run one op. Returns its span; failures are recorded, not raised."""
        self._seq += 1
        span = {"op": op.name, "kind": op.kind, "pass": pass_no, "ok": True}
        traced = self.trace and timed
        if traced:
            t = time.perf_counter()
            before = ctx.sink_bytes(op)
            span["groups"] = [self._group(op.name, "build"), self._group(op.name, "run")]
            self._set_group(span["groups"][0])
            self.trace_overhead += time.perf_counter() - t
        t0 = time.perf_counter()
        res = None
        try:
            res = op.fn(ctx)
            if hasattr(res, "_jdf"):  # a DataFrame: materialize it
                span["build_s"] = time.perf_counter() - t0
                if traced:
                    self._set_group(span["groups"][1])
                    t = time.perf_counter()
                    res._jdf.queryExecution().executedPlan()
                    span["plan_s"] = time.perf_counter() - t
                    self.trace_overhead += span["plan_s"]
                if timed:
                    res.write.format("noop").mode("overwrite").save()
                else:
                    ctx.warm(op, res)
            elif traced:
                span["build_s"] = 0.0
                self._set_group(span["groups"][1])
        except Exception as e:  # counted in fail_ratio, never fatal
            span["ok"] = False
            self.failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
        span["wall_s"] = time.perf_counter() - t0
        foreign, ctx.foreign_groups = ctx.foreign_groups, []
        if traced:
            t = time.perf_counter()
            span["foreign_groups"] = foreign
            self._set_group(None)
            if before is not None:
                after = ctx.sink_bytes(op)
                span["sink_delta"] = tuple(a - b for a, b in zip(after, before))
            self.trace_overhead += time.perf_counter() - t
            if span["ok"] and hasattr(res, "_jdf"):
                span["rows"] = res.count()  # outside the span: rows returned
        return span

    def cache_state(self) -> tuple[int, int]:
        jsc = self.sc._jsc
        n = jsc.getPersistentRDDs().size()
        size = 0
        for info in jsc.sc().getRDDStorageInfo():
            size += info.memSize() + info.diskSize()
        return n, size

    # -- pass loop -----------------------------------------------------
    def run_pass(self, wl, pass_no: int, timed: bool) -> list[dict]:
        ops = wl.pass_ops(pass_no)
        spans = [self.call(op, wl, timed, pass_no) for op in ops]
        self.attempted += len(ops)
        if timed:
            self.cache_after_pass.append(self.cache_state())
        return spans


def _e2e(h: Harness, wl, timed: list[dict], setup_s: float, rss: float) -> dict:
    import workloads

    passes = sorted({s["pass"] for s in timed})
    pass_s = [sum(s["wall_s"] for s in timed if s["pass"] == p) for p in passes]
    lat = [s["wall_s"] for s in timed]
    m = {
        "setup_s": setup_s,
        "pass_s": workloads.median(pass_s),
        "op_p50_s": workloads.median(lat),
        "peak_rss_mb": rss,
        "fail_ratio": len(h.failures) / max(h.attempted, 1),
    }
    tails = {}
    t, p, n = workloads.tail(lat)
    m["op_tail_s"] = t
    tails["op_tail_s"] = {"percentile": p, "samples": n}
    for kind in ("write", "read"):
        xs = [s["wall_s"] for s in timed if s["kind"] == kind]
        if xs:
            m[f"{kind}_p50_s"] = workloads.median(xs)
            t, p, n = workloads.tail(xs)
            m[f"{kind}_tail_s"] = t
            tails[f"{kind}_tail_s"] = {"percentile": p, "samples": n}
    extra, extra_tails = wl.e2e_metrics(timed)
    m.update(extra)
    tails.update(extra_tails)
    return m, tails


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)) or not os.path.isfile(
        os.path.join(root, "tools", "check_oracle.py")
    ):
        print(
            f"perfbench: {PACKAGE}/ and tools/check_oracle.py must be in the "
            "current directory (run from the repository root)",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    h = Harness(args, work)
    try:
        return _run(h, workloads, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(h: Harness, workloads, args) -> int:
    t = time.perf_counter()
    import pyspark.sql  # noqa: F401

    import data_pipeline_demo_spark.plans  # noqa: F401

    h.phase["import_s"] = time.perf_counter() - t
    wl = workloads.WORKLOADS[args.workload](h, args.seed, args.wrong_digest)
    t = time.perf_counter()
    wl.generate()
    fixture_s = time.perf_counter() - t
    h.start()
    try:
        t = time.perf_counter()
        wl.setup()
        h.phase["fixture_s"] = fixture_s + time.perf_counter() - t
        t = time.perf_counter()
        warm = h.run_pass(wl, 0, timed=False)
        h.phase["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROC
        timed: list[dict] = []
        t_start = time.perf_counter()
        pass_no = 1
        while True:
            timed += h.run_pass(wl, pass_no, timed=True)
            if h.trace or time.perf_counter() - t_start >= args.seconds:
                break
            pass_no += 1
        try:
            results = wl.final_checks()
        except Exception as e:  # a check that cannot run is a failed check
            results = [("final_checks", False, f"{type(e).__name__}: {e}")]
        for name, ok, detail in results:
            h.attempted += 1
            if not ok:
                h.failures.append(f"{name}: {detail}")
        rss = h.peak_rss_mb()
    finally:
        stop_spark(h.spark)
    e2e, tails = _e2e(h, wl, timed, setup_s, rss)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": h.cores,
        "passes": len({s["pass"] for s in timed}),
        "phases": h.phase,
        "ops": [s["op"] for s in timed if s["pass"] == 1],
        "op_s": {s["op"]: round(s["wall_s"], 4) for s in timed if s["pass"] == 1},
        "warmup_op_s": {s["op"]: round(s["wall_s"], 4) for s in warm},
        "inputs": wl.inputs_digest(),
        "failures": h.failures[:20],
        "metrics": {
            k: {"value": v, "unit": E2E_UNITS[k]}
            for k, v in e2e.items()
            if v is not None
        },
        "tails": tails,
    }
    if h.trace:
        import layers

        detail["per_layer"] = layers.per_layer(h, wl, timed)
        metrics = {
            k: {"value": v, "unit": layers.UNITS[k]}
            for k, v in detail["per_layer"].items()
        }
    else:
        metrics = {
            k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E_REPORTED
        }
    print(json.dumps(detail, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": not h.failures,
                "attempted": h.attempted,
                "failed": len(h.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
