"""Schema'd CSV/JSON ingestion with corrupt-record quarantine.

The reference infers CSV schemas at read time and hand-inspects bad rows
(`/root/reference/data_pipeline.py:299`, `:434-440`). The engine reads
with an EXPLICIT schema in PERMISSIVE mode: rows that fail the schema
land intact in ``_corrupt_record`` and are split into a quarantine
DataFrame (K4's dead-letter, `:559-570`) instead of poisoning the load.

At scale this is the only sane contract: schema drift in one of 10⁶ files
must never abort a 100 TB load, and the quarantine output is itself a
queryable table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

# Explicit schema for the reference's dealer-transactions feed
# (FIXTURES.md §B: id + datetime + 11 money columns, all read as strings
# so the cast-spec stage owns every conversion).
DEALER_TRANSACTIONS_SCHEMA = T.StructType(
    [T.StructField("id", T.StringType())]
    + [T.StructField("TransactionDatetime", T.StringType())]
    + [
        T.StructField(c, T.StringType())
        for c in (
            "Amount",
            "TotalAmount",
            "Surcharge",
            "MSF",
            "Tip",
            "Cashout",
            "Extras",
            "Levy",
            "ServiceFee",
            "TxnFee",
            "Rebate",
        )
    ]
    + [T.StructField(CORRUPT_COL, T.StringType())]
)

# The reference's TransactionLog ledger schema (data_pipeline.py:245-250);
# filedate stays a string deliberately (Gmail-query format, SURVEY §1.2).
TRANSACTION_LOG_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("filedate", T.StringType()),
        T.StructField("num_rows", T.LongType()),
        T.StructField("subject", T.StringType()),
    ]
)


SOURCE_COL = "_src_file"


def landing_target_rows(cleaned: DataFrame) -> DataFrame:
    """The rows a landing ingest commits to its target, from
    ``clean_transactions`` output: ``id`` as a long (an unparseable id
    becomes null) and the blank-row flag and source-file tag dropped.
    The batch (``plans/reference_etl.run_ingest``) and streaming
    (``streaming/jobs.stream_ingest_landing``) forms both shape their
    rows here, so either can write a target the other created."""
    out = cleaned.drop("_all_money_null", SOURCE_COL)
    if "id" not in out.columns:
        return out
    return out.withColumn("id", F.col("id").try_cast("long"))


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    with_source: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Read CSV permissively against an explicit schema.

    Returns (good, quarantine): good rows with `_corrupt_record` dropped,
    and the raw text of rows that failed the schema. `columnNameOfCorruptRecord`
    must exist in the schema (StringType) for PERMISSIVE capture.

    ``path`` may be a list — ONE Spark scan covers a whole batch of
    landing files (the reference loops file-at-a-time,
    data_pipeline.py:106-161). With ``with_source=True`` both outputs
    carry a ``_src_file`` column (the scan's hidden ``_metadata.file_name``)
    so per-file ledger/QA stays possible after the batch read.
    """
    df = (
        spark.read.options(
            header=True,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=CORRUPT_COL,
        )
        .schema(schema)
        .csv(path)
    )
    if with_source:
        df = df.withColumn(SOURCE_COL, F.col("_metadata.file_name"))
    # Spark disallows querying only the corrupt-record column of a raw
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); cache() is the
    # documented contract for splitting good/quarantine off one read.
    df = df.cache()
    extra = [SOURCE_COL] if with_source else []
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record"), *extra
    )
    return good, quarantine


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JSON scan (S5): explicit schema when known, else sampled inference
    — config/token documents stay driver-side (SURVEY §2.1 S5/S6)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_with_quarantine(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines scan with the same dead-letter contract as the CSV
    reader: malformed lines land intact in the quarantine frame instead
    of aborting the load or silently nulling (S5 + K4)."""
    if not any(f.name == CORRUPT_COL for f in schema.fields):
        schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    df = (
        spark.read.options(
            mode="PERMISSIVE", columnNameOfCorruptRecord=CORRUPT_COL
        )
        .schema(schema)
        .json(path)
        .cache()
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record")
    )
    return good, quarantine
