"""The benchmark's workloads.

Each workload builds its fixtures once (billed to ``setup_s``) and then
hands the harness a list of ops per pass. ``--seed`` picks only the op
order within each pass, the lakehouse change slices and the probe keys;
the tables themselves are fixed (``data/``, see ``checks.DATA_DIR``).
Per-pass choices come
from ``numpy.random.default_rng([seed, pass_no])``, so pass k sees the
same inputs however many passes a run manages.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks


@dataclass
class Op:
    name: str
    kind: str  # "query" | "read" | "write"
    fn: Callable[[Any], Any]


def dir_bytes(root: str) -> tuple[int, int, int]:
    """(data files, data bytes, other bytes) under ``root``; data files
    are parquet, everything else is log or metadata."""
    files = nbytes = other = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            size = os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet"):
                files += 1
                nbytes += size
            elif not f.startswith("."):
                other += size
    return files, nbytes, other


def median(xs):
    return statistics.median(xs) if xs else None


def tail(values: list[float]) -> tuple[float | None, int | None, int]:
    """(value, percentile, n): the highest percentile that still has at
    least 10 samples beyond it; None when there are fewer than 11."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None, None, n
    i = n - 11
    return xs[i], int(100 * (i + 1) / n), n


def _zstd_bytes(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)


class Workload:
    name = ""

    def __init__(self, h, seed: int, wrong_digest: str = ""):
        self.h = h
        self.seed = seed
        self.wrong = {w for w in wrong_digest.split(",") if w}
        self.inputs: dict[str, Any] = {}
        # job groups Spark gave to threads an op started (a streaming
        # query runs its batches under its runId); the harness files
        # their jobs under the op
        self.foreign_groups: list[str] = []

    @property
    def spark(self):
        return self.h.spark

    def rng(self, pass_no: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, pass_no])

    def generate(self) -> None:
        """Inputs that need no Spark session (run before it starts)."""

    def setup(self) -> None:
        """Fixtures built through the engine."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def pass_ops(self, pass_no: int) -> list[Op]:
        ops = self.ops()
        order = self.rng(pass_no).permutation(len(ops))
        return [ops[i] for i in order]

    def warm(self, op: Op, df) -> None:
        """Materialize a DataFrame op in the warm-up pass."""
        df.write.format("noop").mode("overwrite").save()

    def sink_bytes(self, op: Op) -> tuple[int, int, int] | None:
        """``dir_bytes`` of the table a write op adds files to, else None
        (traced runs diff it around the op)."""
        return None

    def final_checks(self) -> list[tuple[str, bool, str]]:
        return []

    def e2e_metrics(self, timed: list[dict]) -> tuple[dict, dict]:
        return {}, {}

    def layer_extras(self, timed: list[dict]) -> dict:
        return {}

    def rows_changed(self, timed: list[dict]) -> int:
        """Rows in the change batches of the timed passes."""
        return 0

    def inputs_digest(self) -> dict:
        blob = json.dumps(self.inputs, sort_keys=True, default=str).encode()
        return {"sha256": hashlib.sha256(blob).hexdigest()[:16], **self.inputs}


# -- registry queries ---------------------------------------------------------


class EtlRelational(Workload):
    """Registry queries: relational, window, time-series and TPC-H shapes.
    A pass runs each query once; the warm-up pass's results are checked
    against the queries' DuckDB oracles."""

    name = "etl_relational"
    QUERIES = (
        "q01_pricing_summary",
        "q18_window_rank",
        "q36_session_window",
        "q38_asof_join",
        "q141_tpch_q8",
        "q143_tpch_q17",
    )

    def generate(self) -> None:
        import threading

        from data_pipeline_demo_spark.plans import all_queries

        self.queries, oracle = all_queries()
        sqls = {q: oracle[q] for q in self.QUERIES}
        self._expected: dict = {}
        # the DuckDB oracle needs no Spark: it runs while the JVM starts
        self._oracle = threading.Thread(
            target=lambda: self._expected.update(
                checks.oracle_results(self.h.sf_dir, sqls)
            ),
            daemon=True,
        )
        self._oracle.start()

    def setup(self) -> None:
        self.results: dict[str, tuple[int, str]] = {}

    def ops(self) -> list[Op]:
        return [
            Op(
                q.split("_")[0],
                "query",
                lambda ctx, q=q: self.queries[q](self.spark, self.h.sf_dir),
            )
            for q in self.QUERIES
        ]

    def warm(self, op: Op, df) -> None:
        """Collect the result the check compares, instead of ``noop``:
        the query runs once, and the plan below the sink is the one the
        timed passes run."""
        self.results[op.name] = checks.spark_result(df)

    def final_checks(self) -> list[tuple[str, bool, str]]:
        self._oracle.join()
        out = []
        for q in self.QUERIES:
            op = q.split("_")[0]
            got, want = self.results.get(op), self._expected.get(q)
            if op in self.wrong and want is not None:
                want = (want[0], "0" * 16)
            out.append((f"check:{q}", got == want, f"spark {got} != oracle {want}"))
        return out


# -- lakehouse ----------------------------------------------------------------

class LakehouseRW(Workload):
    """A batch delete, a streaming upsert and reads side by side on one
    growing bucketed txtable. Every pass writes fresh, disjoint slices,
    so every pass pays real work; a Python-side key map tracks the rows
    that must be live. The upsert batch arrives as one landing file of
    an ``availableNow`` stream, which commits it through the same
    ``txlog_upsert`` the batch path uses."""

    name = "lakehouse_rw"
    NUM_BUCKETS = 4
    UPSERT_FRAC = 0.02  # existing keys the upsert batch rewrites
    UPSERT_NEW = 50  # new keys the upsert batch inserts
    SLICE_FRAC = 0.001  # keys in the delete slice

    def generate(self) -> None:
        li = pq.read_table(os.path.join(self.h.sf_dir, "lineitem.parquet"))
        n = li.num_rows
        self.base = pa.table(
            {
                "li_id": np.arange(n, dtype="int64"),
                "l_orderkey": li["l_orderkey"],
                "l_partkey": li["l_partkey"],
                "l_quantity": li["l_quantity"],
                "l_extendedprice": li["l_extendedprice"],
                "l_shipdate": li["l_shipdate"],
                "order_tag": pa.array(
                    [f"o-{k}" for k in li["l_orderkey"].to_numpy()], pa.string()
                ),
            }
        )
        self.live = np.zeros(4 * n, dtype=bool)
        self.live[:n] = True
        self.next_key = n
        lh = os.path.join(self.h.work, "lh")
        self.root = os.path.join(lh, "table")
        self.ix_root = os.path.join(lh, "index")
        self.stream_landing = os.path.join(lh, "stream_landing")
        self.stream_ckpt = os.path.join(lh, "stream_ckpt")
        self.batches = os.path.join(lh, "batches")
        for d in (self.stream_landing, self.batches):
            os.makedirs(d)
        self.base_path = os.path.join(self.batches, "base.parquet")
        pq.write_table(self.base, self.base_path, compression="zstd")
        self.change_bytes = 0  # change batches written once as zstd parquet
        self.changed_rows: dict[int, int] = {}
        self.progress: dict[int, list] = {}

    def setup(self) -> None:
        from data_pipeline_demo_spark.sinks.txlog import txlog_upsert
        from data_pipeline_demo_spark.sinks.value_index import refresh_value_index

        base = self.spark.read.parquet(self.base_path)
        self.schema = base.schema
        txlog_upsert(
            self.spark,
            base,
            self.root,
            key="li_id",
            num_buckets=self.NUM_BUCKETS,
            stats_columns=["l_shipdate"],
        )
        refresh_value_index(self.spark, self.root, self.ix_root, "order_tag")
        self.bytes_at_setup = dir_bytes(self.root)

    def _rows(self, keys: np.ndarray, **over) -> pa.Table:
        """Lineitem-shaped rows for ``keys`` (values borrowed from the base)."""
        t = self.base.take(pa.array(keys % self.base.num_rows))
        t = t.set_column(0, "li_id", pa.array(keys.astype("int64")))
        for col, vals in over.items():
            t = t.set_column(t.schema.get_field_index(col), col, pa.array(vals))
        return t

    def _new_keys(self, k: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + k)
        self.next_key += k
        return keys

    def _write(self, t: pa.Table, path: str, pass_no: int) -> str:
        self.change_bytes += _zstd_bytes(t, path)
        self.changed_rows[pass_no] += t.num_rows
        return path

    def _prepare(self, pass_no: int) -> None:
        """This pass's inputs: disjoint live-key slices, new keys for inserts."""
        rng = self.rng(pass_no)
        n = self.base.num_rows
        live_keys = np.flatnonzero(self.live[: self.next_key])
        n_up, n_sl = int(n * self.UPSERT_FRAC), int(n * self.SLICE_FRAC)
        pick = rng.choice(live_keys, n_up + n_sl, replace=False)
        up, dele = np.split(pick, [n_up])
        lo = datetime(1995, 1, 1) + timedelta(days=int(rng.integers(0, 2300)))
        probe = int(rng.choice(live_keys)) % n
        d = os.path.join(self.batches, f"p{pass_no}")
        os.makedirs(d)
        self.changed_rows[pass_no] = 0
        files = {
            "delete_mor": self._write(
                pa.table({"li_id": pa.array(dele.astype("int64"))}),
                os.path.join(d, "delete.parquet"),
                pass_no,
            ),
        }
        stream_new = self._new_keys(self.UPSERT_NEW)
        up_t = self._rows(np.concatenate([up, stream_new]))
        up_t = up_t.set_column(3, "l_quantity", pc.add(up_t["l_quantity"], 1.0))
        self._write(
            up_t, os.path.join(self.stream_landing, f"p{pass_no:03d}.parquet"), pass_no
        )
        # the rows that must be live whatever order the ops run in
        self.live[dele] = False
        self.live[stream_new] = True
        self.cur = {
            "files": files,
            "n_delete": n_sl,
            "range": (lo, lo + timedelta(days=90)),
            "probe": f"o-{self.base['l_orderkey'][probe].as_py()}",
            "pass": pass_no,
        }
        self.inputs[f"pass{pass_no}"] = {
            "upsert": up[:5].tolist(),
            "delete": dele[:5].tolist(),
            "probe": self.cur["probe"],
            "range": str(lo.date()),
        }

    def pass_ops(self, pass_no: int) -> list[Op]:
        """Writes in a fixed order, then the reads in seeded order: every
        read sees a table that took the same kinds of commit, whatever
        the seed."""
        self._prepare(pass_no)
        ops = self.ops()
        writes = [o for o in ops if o.kind == "write"]
        reads = [o for o in ops if o.kind != "write"]
        order = self.rng(pass_no).permutation(len(reads))
        return writes + [reads[i] for i in order]

    def sink_bytes(self, op: Op) -> tuple[int, int, int] | None:
        return dir_bytes(self.root) if op.kind == "write" else None

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from data_pipeline_demo_spark.sinks.txlog import (
            read_txtable,
            txlog_delete,
        )
        from data_pipeline_demo_spark.sinks.value_index import lookup_with_index
        from data_pipeline_demo_spark.streaming.jobs import stream_upsert_writer

        sp, root = self.spark, self.root

        def batch(op):
            return sp.read.parquet(self.cur["files"][op])

        def delete_mor(_):
            n = txlog_delete(sp, root, keys=batch("delete_mor"), mode="merge-on-read")
            if n != self.cur["n_delete"]:
                raise AssertionError(f"delete removed {n} rows, slice has {self.cur['n_delete']}")
            return n

        def stream_upsert(_):
            source = (
                sp.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.stream_landing)
            )
            q = (
                stream_upsert_writer(
                    source,
                    root,
                    key="li_id",
                    checkpoint=self.stream_ckpt,
                    use_txlog=True,
                    txn_app_id="perfbench",
                )
                .trigger(availableNow=True)
                .start()
            )
            self.foreign_groups.append(str(q.runId))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
            self.progress[self.cur["pass"]] = prog
            if len(prog) != 1:
                raise AssertionError(f"{len(prog)} triggers for one new file")
            return prog

        return [
            Op("delete_mor", "write", delete_mor),
            Op("stream_upsert", "write", stream_upsert),
            Op(
                "lookup_stale",
                "read",
                lambda _: lookup_with_index(sp, root, self.ix_root, "order_tag", self.cur["probe"]),
            ),
            Op(
                "range_read",
                "read",
                lambda _: read_txtable(sp, root, prune_between={"l_shipdate": self.cur["range"]}),
            ),
            Op("txtable_scan", "read", lambda _: sp.read.format("txtable").load(root)),
            Op(
                "scan_agg",
                "read",
                lambda _: read_txtable(sp, root)
                .groupBy((F.col("l_partkey") % 100).alias("g"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum("l_quantity").alias("qty"),
                    F.sum("l_extendedprice").alias("price"),
                ),
            ),
        ]

    def final_checks(self) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        from data_pipeline_demo_spark.sinks.txlog import read_txtable
        from data_pipeline_demo_spark.sinks.value_index import lookup_with_index

        sp, out = self.spark, []
        n_jvm = read_txtable(sp, self.root).count()
        n_py = sp.read.format("txtable").load(self.root).count()
        want = int(self.live.sum()) + ("txtable_scan" in self.wrong)
        out.append(
            (
                "check:row_count",
                n_jvm == n_py == want,
                f"read_txtable {n_jvm}, format(txtable) {n_py}, expected {want}",
            )
        )
        probe = self.cur["probe"]

        def rows(df):
            return sorted(tuple(r) for r in df.select(*self.base.column_names).collect())

        via_ix = rows(lookup_with_index(sp, self.root, self.ix_root, "order_tag", probe))
        via_scan = rows(read_txtable(sp, self.root).filter(F.col("order_tag") == probe))
        if "lookup_stale" in self.wrong:
            via_scan = via_scan[1:]
        out.append(
            (
                "check:index_lookup",
                via_ix == via_scan and len(via_ix) > 0,
                f"index {len(via_ix)} rows, scan {len(via_scan)} rows",
            )
        )
        self.live_bytes = _zstd_bytes(
            read_txtable(sp, self.root).toArrow(), os.path.join(self.batches, "live.parquet")
        )
        return out

    def _amp(self) -> tuple[float, float]:
        _, data, other = dir_bytes(self.root)
        _, data0, other0 = self.bytes_at_setup
        write_amp = (data + other - data0 - other0) / max(self.change_bytes, 1)
        return write_amp, (data + other) / max(self.live_bytes, 1)

    def _timed_progress(self, timed):
        return [p for s in timed if s["op"] == "stream_upsert" for p in self.progress.get(s["pass"], ())]

    def e2e_metrics(self, timed):
        write_amp, space_amp = self._amp()
        prog = self._timed_progress(timed)
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog]
        t, pct, n = tail(trig)
        rows = sum(p["numInputRows"] for p in prog)
        return (
            {
                "write_amp": write_amp,
                "space_amp": space_amp,
                "trigger_p50_s": median(trig),
                "trigger_tail_s": t,
                "rows_per_s": rows / max(sum(trig), 1e-9),
            },
            {"trigger_tail_s": {"percentile": pct, "samples": n}},
        )

    def layer_extras(self, timed):
        write_amp, space_amp = self._amp()
        prog = self._timed_progress(timed)
        out = {
            f"streaming.{k}_s": median([p["durationMs"].get(k, 0) / 1000.0 for p in prog]) or 0.0
            for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset")
        }
        out["sinks.write_amp"] = write_amp
        out["sinks.space_amp"] = space_amp
        return out

    def rows_changed(self, timed):
        return sum(self.changed_rows[p] for p in {s["pass"] for s in timed})


WORKLOADS = {w.name: w for w in (EtlRelational, LakehouseRW)}
