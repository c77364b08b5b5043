"""q62: the reference's END-TO-END pipeline as a driver-checked query.

The reference IS an ETL run (`/root/reference/data_pipeline.py:106-161,
:352-572`): land CSVs → schema read + quarantine → clean → ledger-dedup →
idempotent upsert → ledger append → QA report. The per-stage operators
are each oracle-checked elsewhere (q27/q28 cleaning, q06/q07 ledger
anti-join, upsert pytest suite); this query runs the WHOLE path
(`plans/reference_etl.run_ingest`) over a deterministic in-repo fixture
batch — twice, so the ledger guard's replay-skip is part of the checked
contract — and returns the run's QA aggregate row.

The fixture is synthesized from literals at call time (two dealer CSVs +
one malformed row), so the QA outcome is a known constant and the oracle
is a literal SELECT — the e2e path gets a full value-hash check, not a
rows-only count. The returned row is driver-materialized by design: it
is the reference's run REPORT (`data_pipeline.py:689-701`), a single
metadata-sized aggregate row, not a data-plane collect.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.cleaning import qa_aggregates
from .registry import register

# Two landing files (filename stem's last 10 chars = filedate, matching
# the reference's Gmail-query date convention, data_pipeline.py:117-120).
# Money values are binary-exact quarters so the checksum is unambiguous
# across engines; row 3 is the reference's blank-row shape (all money
# 'nan', unparseable datetime); the 15-token row fails the 13-column
# schema and must quarantine, not poison the load (K4).
_HEADER = (
    "id,TransactionDatetime,Amount,TotalAmount,Surcharge,MSF,Tip,Cashout,"
    "Extras,Levy,ServiceFee,TxnFee,Rebate"
)
_FIXTURE_FILES = {
    "dealer_2025-04-30.csv": [
        _HEADER,
        '1,30/04/2025 19:36,$100.50,"$1,100.50",$0.50,-$2.00,,,,,,,',
        "2,12/4/25 20:46,$75.25,$75.25,$0.00,$1.25,,,,,,,",
        "3,not a date,nan,nan,nan,nan,nan,nan,nan,nan,nan,nan,nan",
    ],
    "dealer_2025-05-01.csv": [
        _HEADER,
        "4,01/05/2025 09:00,$20.00,$20.00,$0.00,$0.40,,,,,,,",
        "5,1/5/2025 9:30,$54.25,$54.25,$0.25,$1.00,,,,,,,",
        "99,01/05/2025 10:00,x,x,x,x,x,x,x,x,x,x,x,EXTRA,EXTRA2",
    ],
}

_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("checksum_total", T.DoubleType()),
        T.StructField("n_dates_parsed", T.LongType()),
        T.StructField("n_dates_null", T.LongType()),
        T.StructField("date_min", T.DateType()),
        T.StructField("date_max", T.DateType()),
        T.StructField("n_quarantined", T.LongType()),
        T.StructField("n_files_processed", T.LongType()),
        T.StructField("n_files_skipped_on_replay", T.LongType()),
    ]
)


@register(
    "q62_reference_etl",
    oracle="""
    SELECT CAST(5 AS BIGINT)        AS n_rows,
           CAST(1250.00 AS DOUBLE)  AS checksum_total,
           CAST(4 AS BIGINT)        AS n_dates_parsed,
           CAST(1 AS BIGINT)        AS n_dates_null,
           DATE '2025-04-12'        AS date_min,
           DATE '2025-05-01'        AS date_max,
           CAST(1 AS BIGINT)        AS n_quarantined,
           CAST(2 AS BIGINT)        AS n_files_processed,
           CAST(2 AS BIGINT)        AS n_files_skipped_on_replay
    """,
)
def q62_reference_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full reference pipeline over the fixture batch (twice:
    second pass must be all ledger-skips) and return its QA report row.
    ``sf_dir`` is unused — the e2e contract is over the landing fixture,
    not the shared tables."""
    from ..sinks.txlog import read_txtable
    from .reference_etl import PipelineConfig, run_ingest

    tmp = tempfile.mkdtemp(prefix="spark_graft_q62_")
    try:
        landing = os.path.join(tmp, "landing")
        os.makedirs(landing)
        for fname, lines in _FIXTURE_FILES.items():
            with open(os.path.join(landing, fname), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        cfg = PipelineConfig(
            landing_dir=landing,
            target_path=os.path.join(tmp, "target"),
            ledger_path=os.path.join(tmp, "ledger"),
            quarantine_path=os.path.join(tmp, "quarantine"),
        )
        report = run_ingest(spark, cfg)
        replay = run_ingest(spark, cfg)  # idempotent: ledger skips all

        target = read_txtable(spark, cfg.target_path)
        qa = qa_aggregates(target).collect()[0].asDict()
        n_quarantined = (
            spark.read.parquet(cfg.quarantine_path).count()
            if os.path.isdir(cfg.quarantine_path)
            else 0
        )
        row = (
            int(qa["n_rows"]),
            float(qa["checksum_total"]),
            int(qa["n_dates_parsed"]),
            int(qa["n_dates_null"]),
            qa["date_min"],
            qa["date_max"],
            int(n_quarantined),
            len(report["processed"]),
            int(replay["skipped"]),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame([row], _REPORT_SCHEMA)
