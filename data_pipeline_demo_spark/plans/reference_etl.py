"""The reference's end-to-end pipeline, Spark-native (SURVEY.md §3).

EP2/EP3 (`/root/reference/data_pipeline.py:106-161`, `:352-572`)
re-expressed as a declarative batch job:

    landing CSVs ──read(schema)──▶ good / quarantine
        good ──clean_transactions──▶ typed rows
        ledger anti-join ──▶ only new files          (dedup guard, P4)
        txlog_upsert(on id) ──▶ target txtable       (K3)
        append_ledger ──▶ ledger                     (K5)
        qa_aggregates ──▶ run report                 (A1-A4)

Ordering preserved from EP2 step 5: notify-start → write → ledger →
notify-complete — notifications are injected callables (side channels
stay out of the data plane; the reference gated the DB write on email
success via a mutable global, `data_pipeline.py:154`).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import (
    _qa_agg_exprs,
    clean_transactions,
    qa_aggregates_by,
)
from ..sinks.txlog import txlog_upsert
from ..sinks.upsert import append_ledger_rows, new_files, write_quarantine
from ..sources.csv_ingest import (
    DEALER_TRANSACTIONS_SCHEMA,
    SOURCE_COL,
    TRANSACTION_LOG_SCHEMA,
    landing_target_rows,
    read_csv_with_quarantine,
)


@dataclass
class PipelineConfig:
    """Injected config — replaces the reference's env-var prints + XML
    fetch (`data_pipeline.py:26-41`, `:170-211`). Credentials never live
    in code and are never logged."""

    landing_dir: str
    target_path: str
    ledger_path: str
    quarantine_path: str
    key: str = "id"
    notify_start: Callable[[str, int], None] = field(default=lambda f, n: None)
    notify_complete: Callable[[str, int], None] = field(default=lambda f, n: None)


def run_ingest(spark: SparkSession, cfg: PipelineConfig) -> dict[str, object]:
    """Process every not-yet-ingested CSV under ``landing_dir`` in ONE
    Spark read.

    The reference loops file-at-a-time (per-file read + count + upsert,
    data_pipeline.py:106-161), which serializes the cluster with many
    landing files. Here the whole new-file batch is a single scan tagged
    with ``_metadata.file_name``; per-file row counts, QA rows, and
    ledger entries come from grouped aggregates over that scan, and the
    target takes one keyed MERGE commit for the batch: ``target_path``
    is a txtable (read it with ``read_txtable``). EP2 step-5 ordering
    is preserved per file: notify-start → write → ledger →
    notify-complete.

    Returns a run report: per-file row counts + QA aggregate rows.
    """
    files = sorted(
        f for f in os.listdir(cfg.landing_dir) if f.endswith(".csv")
    )
    if os.path.isdir(cfg.ledger_path):
        ledger = spark.read.schema(TRANSACTION_LOG_SCHEMA).parquet(cfg.ledger_path)
    else:
        ledger = spark.createDataFrame([], TRANSACTION_LOG_SCHEMA)

    candidates = spark.createDataFrame(
        [(f, f.rsplit(".", 1)[0][-10:].replace("-", "/"), ) for f in files],
        "filename string, filedate string",
    )
    todo = [r.filename for r in new_files(candidates, ledger).collect()]
    report: dict[str, object] = {"processed": [], "skipped": len(files) - len(todo)}
    if not todo:
        return report

    paths = [os.path.join(cfg.landing_dir, f) for f in sorted(todo)]
    good, quarantine = read_csv_with_quarantine(
        spark, paths, DEALER_TRANSACTIONS_SCHEMA, with_source=True
    )
    cleaned = clean_transactions(good)
    # The batch is consumed twice (QA aggregates, then the upsert);
    # persist the parsed+cleaned form so the CSV parse/clean chain runs
    # once per batch instead of once per consumer.
    cleaned = cleaned.persist()

    # Per-file QA (row counts included) and quarantine tallies: two
    # grouped passes over the batch, not 2×N single-file jobs.
    qa_rows = {}
    for r in qa_aggregates_by(cleaned, SOURCE_COL).collect():
        d = r.asDict()
        qa_rows[d.pop(SOURCE_COL)] = d
    bad_by_file = {
        r[SOURCE_COL]: r["n"]
        for r in quarantine.groupBy(SOURCE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_by_file = {f: qa["n_rows"] for f, qa in qa_rows.items()}

    for fname in sorted(todo):
        cfg.notify_start(fname, n_by_file.get(fname, 0))
    if bad_by_file:
        write_quarantine(
            quarantine,
            cfg.quarantine_path,
            reason=F.concat(F.lit("csv:"), F.col(SOURCE_COL)),
        )
    # Whole-batch QA rides the upsert's OWN scan via df.observe — the
    # reference's inline checksum / date-range / null-count prints
    # (data_pipeline.py:401-402, :430, :689-701) computed with ZERO
    # extra jobs (the per-file grouped QA above still needs its one
    # grouped pass; Observation metrics are global-only by design).
    from pyspark.sql import Observation

    obs = Observation("batch_qa")
    to_write = landing_target_rows(cleaned)
    to_write = to_write.observe(
        obs, *_qa_agg_exprs(to_write, "TotalAmount", "TransactionDatetime")
    )
    total = txlog_upsert(spark, to_write, cfg.target_path, key=cfg.key)
    report["batch_qa"] = dict(obs.get)
    cleaned.unpersist()
    append_ledger_rows(
        spark,
        cfg.ledger_path,
        [
            (
                fname,
                fname.rsplit(".", 1)[0][-10:].replace("-", "/"),
                int(n_by_file.get(fname, 0)),
                fname,
            )
            for fname in sorted(todo)
        ],
    )
    for fname in sorted(todo):
        cfg.notify_complete(fname, n_by_file.get(fname, 0))
        report["processed"].append(
            {
                "file": fname,
                "rows": n_by_file.get(fname, 0),
                "quarantined": bad_by_file.get(fname, 0),
                "target_total": total,
                "qa": qa_rows.get(fname, {}),
            }
        )
    return report
